package graft

import java.util.concurrent.{Callable, Executors, ThreadFactory, TimeUnit, TimeoutException}

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.docset.DocSet
import graft.model.Document
import graft.operators._
import graft.sources.Warc

/**
 * Seeded random-mutation fuzz harness over every binary-format parser
 * (r18 brief #1). r17 found three poison-pill classes — OOM-bomb spans,
 * NumberFormatException task kills, an infinite recursion — by HAND
 * review; this finds the rest mechanically: flip/truncate/splice/zero/
 * insert/duplicate bytes of a seed document, N >= 200 mutants per
 * format, and require every parser to DEGRADE — return, in bounded time,
 * with bounded output — never hang, throw, or OOM the task. This is the
 * crawl-ingest robustness a 100 TB WARC pipeline lives on (reference
 * contract: the tolerant paths of transforms/detr_partitioner.py and
 * partition.py — garbage in a corpus must cost one document, not a job).
 *
 * Seeds come from two places, as (format, offset) pairs:
 *  - generated in this file, run on every machine: pptx 5, warc 8,
 *    warc.gz 9, ppm 10, bmp 11, wav 13, gfv 14, png 15 (an ImageIO-written
 *    raster), and the Sniff seeds sniff:pptx 22 … sniff:gfv 27,
 *    sniff:pdf 28, sniff:html 29;
 *  - read from the reference fixture corpus at `FixtureGoldenGen.DataDir`,
 *    run only where the files exist (the test cancels otherwise, naming the
 *    missing file): pdf 1, pdf+tables 2, html 3, docx 4, text 6 (with the
 *    generated vtt 7 in the same test), png-fixture 12,
 *    sniff:pdf-fixture 20, sniff:html-fixture 21, and the partitionAuto
 *    mixed corpus (one shared stream at offset 99).
 *
 * Reproducibility: every mutant derives from a FIXED seed; a failure
 * message carries the format, its offset, the mutant index and the
 * mutation descriptor. Mutant i of a pair is the (i+1)-th call of
 * `mutantOf(seedBytes, rnd)` on one `rnd = new Random(SeedBase + offset)`,
 * so replaying mutants 0..i in order reproduces it exactly.
 */
class FuzzSpec extends AnyFunSuite {
  private val DataDir = FixtureGoldenGen.DataDir

  private val SeedBase = 0x18C0FFEEL
  private val N = 220
  /** Per-mutant wall cap: generous (a loaded CI host JITs slowly) but a
    * hang/quadratic blowup still fails fast enough to act on. */
  private val TimeoutSec = 30L
  /** Output-allocation cap: elements + text of ONE parsed document. The
    * fixtures are <= 4 MB; 64 MB of output from a mutated one means an
    * expansion bug (the r17 span-bomb class), not content. */
  private val MaxOutBytes = 64L << 20

  // ------------------------------------------------------------ harness

  private lazy val pool = Executors.newCachedThreadPool(new ThreadFactory {
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "fuzz-worker"); t.setDaemon(true); t
    }
  })

  /** Run one parse bounded in time; surface hang/throw with the replay
    * coordinates. StackOverflowError is caught deliberately: an
    * unbounded-recursion parser bug (the r17 splitOne class) must report
    * as a finding, not abort the suite. */
  private def bounded[T](what: String)(f: => T): T = {
    val fut = pool.submit(new Callable[T] {
      override def call(): T = f
    })
    try fut.get(TimeoutSec, TimeUnit.SECONDS)
    catch {
      case _: TimeoutException =>
        fut.cancel(true)
        fail(s"$what: parse exceeded ${TimeoutSec}s (hang/blowup)")
      case e: java.util.concurrent.ExecutionException =>
        val c = e.getCause
        c match {
          case so: StackOverflowError =>
            fail(s"$what: unbounded recursion (StackOverflowError)")
          case other =>
            fail(s"$what: parser threw ${other.getClass.getName}: ${other.getMessage}")
        }
    }
  }

  private def outBytes(d: Document): Long =
    d.elements.foldLeft(0L) { (acc, e) =>
      acc + 64 + e.textRepresentation.map(_.length.toLong).getOrElse(0L) +
        e.properties.foldLeft(0L)((a, kv) => a + kv._1.length + kv._2.length)
    } + d.textRepresentation.map(_.length.toLong).getOrElse(0L)

  // ----------------------------------------------------------- mutations

  /** One deterministic mutant + its descriptor. Mutation vocabulary:
    * byte flips, truncation, region zero/0xFF fill, chunk splice (copy a
    * random span over another), random-byte insertion, chunk duplication
    * (append a repeated interior span — the zip/span-bomb shape). */
  private def mutantOf(seed: Array[Byte], rnd: Random): (String, Array[Byte]) = {
    val len = seed.length
    require(len > 8, "seed too small to mutate")
    rnd.nextInt(7) match {
      case 0 =>
        val b = seed.clone()
        val k = 1 + rnd.nextInt(16)
        val pos = Array.fill(k)(rnd.nextInt(len))
        pos.foreach(p => b(p) = (b(p) ^ (1 << rnd.nextInt(8))).toByte)
        (s"flip k=$k", b)
      case 1 =>
        val cut = 1 + rnd.nextInt(len - 1)
        (s"truncate at=$cut", java.util.Arrays.copyOfRange(seed, 0, cut))
      case 2 =>
        val b = seed.clone()
        val n = 1 + rnd.nextInt(math.min(len / 2, 4096))
        val src = rnd.nextInt(len - n + 1); val dst = rnd.nextInt(len - n + 1)
        System.arraycopy(seed, src, b, dst, n)
        (s"splice n=$n src=$src dst=$dst", b)
      case 3 =>
        val b = seed.clone()
        val n = 1 + rnd.nextInt(math.min(len / 2, 4096))
        val at = rnd.nextInt(len - n + 1)
        val fill = if (rnd.nextBoolean()) 0.toByte else 0xFF.toByte
        java.util.Arrays.fill(b, at, at + n, fill)
        (s"fill v=$fill at=$at n=$n", b)
      case 4 =>
        val n = 1 + rnd.nextInt(256)
        val at = rnd.nextInt(len)
        val ins = Array.fill(n)(rnd.nextInt(256).toByte)
        val b = new Array[Byte](len + n)
        System.arraycopy(seed, 0, b, 0, at)
        System.arraycopy(ins, 0, b, at, n)
        System.arraycopy(seed, at, b, at + n, len - at)
        (s"insert at=$at n=$n", b)
      case 5 =>
        // duplicate an interior span many times (expansion-bug bait)
        val n = 1 + rnd.nextInt(math.min(len / 2, 512))
        val src = rnd.nextInt(len - n + 1)
        val times = 1 + rnd.nextInt(64)
        val out = new java.io.ByteArrayOutputStream(len + n * times)
        out.write(seed, 0, src + n)
        var t = 0
        while (t < times) { out.write(seed, src, n); t += 1 }
        out.write(seed, src + n, len - src - n)
        (s"dup src=$src n=$n x$times", out.toByteArray)
      case _ =>
        // header-preserving tail scramble: keep magic bytes, shuffle the rest
        val keep = math.min(16, len / 4)
        val b = seed.clone()
        var i = len - 1
        while (i > keep) {
          val j = keep + rnd.nextInt(i - keep + 1)
          val tmp = b(i); b(i) = b(j); b(j) = tmp
          i -= 1
        }
        (s"scramble keep=$keep", b)
    }
  }

  private def fuzzFormat(fmt: String, seed: Array[Byte], seedOffset: Long,
                         n: Int = N)(parse: Array[Byte] => Long): Unit = {
    val rnd = new Random(SeedBase + seedOffset)
    var i = 0
    while (i < n) {
      val (desc, bytes) = mutantOf(seed, rnd)
      val what = s"$fmt (offset $seedOffset) mutant #$i [$desc]"
      val out = bounded(s"$what len=${bytes.length}")(parse(bytes))
      assert(out <= MaxOutBytes, s"$what: output $out bytes exceeds cap (expansion bug)")
      i += 1
    }
  }

  // ---------------------------------------------------------- seed corpus

  private val PdfFixture = "pdfs/visit_aryn.pdf"
  private val DocxFixture = "docx/aryn_website_sample.docx"
  private val PngFixture = "imgs/vert_table.png"
  private val HtmlFixture = "htmls/wikipedia_binary_search.html"
  private val TextFixture = "texts/Ray.txt"

  private def fixturePath(rel: String): java.nio.file.Path =
    java.nio.file.Paths.get(DataDir, rel)

  /** Cancel, naming the missing file, unless every listed fixture exists:
    * a partial corpus cancels the test instead of throwing
    * NoSuchFileException from a seed read. */
  private def assumeFixture(rel: String*): Unit = rel.map(fixturePath).foreach { p =>
    assume(java.nio.file.Files.isRegularFile(p), s"$p not present")
  }

  private def fixtureBytes(rel: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(fixturePath(rel))

  private lazy val pdfSeed = fixtureBytes(PdfFixture)
  private lazy val docxSeed = fixtureBytes(DocxFixture)
  private lazy val pngFixtureSeed = fixtureBytes(PngFixture)
  /** HTML seed: the structured head of the wikipedia fixture (full file is
    * 470 KB; 96 KB keeps 220 mutants fast while spanning real tag soup). */
  private lazy val htmlSeed = {
    val full = fixtureBytes(HtmlFixture)
    java.util.Arrays.copyOfRange(full, 0, math.min(full.length, 96 << 10)) ++
      "</body></html>".getBytes("UTF-8")
  }
  private lazy val textSeed = {
    val full = fixtureBytes(TextFixture)
    java.util.Arrays.copyOfRange(full, 0, math.min(full.length, 32 << 10))
  }

  /** Small synthesized PDF (the StructureSpec shape): MediaBox object + one
    * uncompressed content stream of positioned text. */
  private lazy val genPdfSeed: Array[Byte] = {
    val content = ("BT /F1 12 Tf 1 0 0 1 72 700 Tm (Fuzz seed title) Tj ET\n" +
      "BT 14 TL 72 660 Td (first body line) Tj T* (second body line) Tj ET\n" +
      "BT 72 600 Td <48657821> Tj ET").getBytes("ISO-8859-1")
    ("%PDF-1.4\n1 0 obj << /MediaBox [0 0 612 792] >> endobj\n" +
      "2 0 obj << /Length " + content.length + " >>\nstream\n").getBytes("ISO-8859-1") ++
      content ++ "\nendstream\nendobj\ntrailer\n%%EOF".getBytes("ISO-8859-1")
  }

  /** Small synthesized HTML page: doctype, head, headings, list, table. */
  private lazy val genHtmlSeed: Array[Byte] = (
    "<!DOCTYPE html><html><head><title>Fuzz seed</title></head><body>\n" +
      "<h1>Binary search</h1><p>Binary search finds a target in a sorted array.</p>\n" +
      "<ul><li>halve the interval</li><li>compare the middle</li></ul>\n" +
      "<table><tr><th>n</th><th>steps</th></tr><tr><td>1024</td><td>10</td></tr></table>\n" +
      "<p>See <a href=\"https://example.com/a\">the reference</a>.</p>\n" +
      "</body></html>").getBytes("UTF-8")

  /** 16x12 RGB raster written as PNG by ImageIO (the MediaSpec encoding):
    * exercises the MediaOps.decodeImageIo path without a fixture file. */
  private lazy val pngSeed: Array[Byte] = {
    val img = new java.awt.image.BufferedImage(16, 12,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 12; x <- 0 until 16)
      img.setRGB(x, y, ((x * 16) << 16) | ((y * 20) << 8) | 0x40)
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "png", bos), "no ImageIO PNG writer")
    bos.toByteArray
  }

  /** Small synthesized PPTX (design.pptx is 3.7 MB — too slow for 220
    * zip-parse mutants): two slides + one notes part, the entry shapes
    * PptxPartitioner dispatches on. */
  private lazy val pptxSeed: Array[Byte] = {
    def slide(i: Int) =
      s"""<p:sld><p:txBody><a:p><a:r><a:t>Slide $i title</a:t></a:r></a:p>
         |<a:p><a:r><a:t>bullet one of slide $i</a:t></a:r></a:p></p:txBody></p:sld>""".stripMargin
    val notes = "<p:notes><a:p><a:r><a:t>speaker notes</a:t></a:r></a:p></p:notes>"
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    def put(name: String, body: String): Unit = {
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(body.getBytes("UTF-8")); z.closeEntry()
    }
    put("[Content_Types].xml", "<Types/>")
    put("ppt/slides/slide1.xml", slide(1))
    put("ppt/slides/slide2.xml", slide(2))
    put("ppt/notesSlides/notesSlide1.xml", notes)
    z.close()
    bos.toByteArray
  }

  private lazy val vttSeed = (
    "[0:00] alice welcome to the meeting everyone\n" +
      "[0:07] bob thanks glad to be here today\n" +
      "[0:15] alice first agenda item is the quarterly review\n" +
      "garbage line without brackets\n" +
      "[0:31] carol numbers are up twelve percent\n").getBytes("UTF-8")

  /** Synthesized multi-record WARC (the WarcSpec shape): warcinfo +
    * response with HTTP envelope + conversion. */
  private lazy val warcSeed: Array[Byte] = {
    def record(tpe: String, uri: String, payload: Array[Byte]): Array[Byte] = {
      val head = (s"WARC/1.0\r\nWARC-Type: $tpe\r\n" +
        (if (uri.nonEmpty) s"WARC-Target-URI: $uri\r\n" else "") +
        s"WARC-Record-ID: <urn:uuid:$tpe-${uri.length}>\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes("UTF-8")
      head ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
      "<html><title>t</title><p>body text</p></html>").getBytes("UTF-8")
    record("warcinfo", "", "software: fuzz".getBytes("UTF-8")) ++
      record("response", "http://example.com/a", http) ++
      record("conversion", "http://example.com/b",
        "plain converted text body".getBytes("UTF-8"))
  }

  private def gz(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close(); bos.toByteArray
  }

  /** GFV0 video container: 32 frames of 16 bytes. */
  private lazy val videoSeed: Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(Array[Byte]('G', 'F', 'V', '0', 0, 0, 0, 16))
    (0 until 32).foreach(i => bos.write(Array.tabulate(16)(j => (i * 16 + j).toByte)))
    bos.toByteArray
  }

  /** 8x6 P6 PPM + same raster as 24bpp BMP + RIFF/WAV PCM16 mono. */
  private lazy val ppmSeed: Array[Byte] = {
    val head = "P6\n8 6\n255\n".getBytes("US-ASCII")
    head ++ Array.tabulate(8 * 6 * 3)(i => (i * 7).toByte)
  }
  private lazy val bmpSeed: Array[Byte] = {
    val w = 8; val h = 6; val rowBytes = (w * 3 + 3) / 4 * 4
    val size = 54 + rowBytes * h
    val b = new Array[Byte](size)
    b(0) = 'B'; b(1) = 'M'
    def putU32(o: Int, v: Int): Unit = {
      b(o) = v.toByte; b(o + 1) = (v >> 8).toByte
      b(o + 2) = (v >> 16).toByte; b(o + 3) = (v >> 24).toByte
    }
    putU32(2, size); putU32(10, 54); putU32(14, 40)
    putU32(18, w); putU32(22, h)
    b(26) = 1; b(28) = 24 // planes=1, bpp=24, compression=0 already
    var i = 54
    while (i < size) { b(i) = (i * 3).toByte; i += 1 }
    b
  }
  private lazy val wavSeed: Array[Byte] = {
    val samples = 256
    val dataLen = samples * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes); b.putInt(36 + dataLen); b.put("WAVE".getBytes)
    b.put("fmt ".getBytes); b.putInt(16); b.putShort(1); b.putShort(1)
    b.putInt(8000); b.putInt(16000); b.putShort(2); b.putShort(16)
    b.put("data".getBytes); b.putInt(dataLen)
    (0 until samples).foreach(i => b.putShort((math.sin(i / 8.0) * 12000).toShort))
    b.array()
  }

  private def doc(id: String, bytes: Array[Byte]): Document =
    Document(id, Document.lineageOf(id), None, None, Some(bytes),
      Nil, None, None, None, None, Map.empty)

  // -------------------------------------------------------------- suites

  test("fuzz: PdfPartitioner survives mutated PDFs (text + table paths)") {
    assumeFixture(PdfFixture)
    val base = new PdfPartitioner()
    fuzzFormat("pdf", pdfSeed, 1)(b => outBytes(base.partition(doc("m.pdf", b))))
    val withTables = new PdfPartitioner(
      ocr = Some(new FakeOcrProvider()), tables = Some(new GeomTableProvider()))
    fuzzFormat("pdf+tables", pdfSeed, 2, n = 120)(b =>
      outBytes(withTables.partition(doc("m.pdf", b))))
  }

  test("fuzz: HtmlPartitioner survives mutated HTML (tables + links on)") {
    assumeFixture(HtmlFixture)
    val p = new HtmlPartitioner(extractTables = true, trackLinks = true)
    fuzzFormat("html", htmlSeed, 3)(b => outBytes(p.partition(doc("m.html", b))))
  }

  test("fuzz: DocxPartitioner survives mutated DOCX") {
    assumeFixture(DocxFixture)
    val p = new DocxPartitioner()
    fuzzFormat("docx", docxSeed, 4)(b => outBytes(p.partition(doc("m.docx", b))))
  }

  test("fuzz: PptxPartitioner survives mutated PPTX") {
    val p = new PptxPartitioner()
    fuzzFormat("pptx", pptxSeed, 5)(b => outBytes(p.partition(doc("m.pptx", b))))
  }

  test("fuzz: Text/Transcript partitioners survive mutated text") {
    assumeFixture(TextFixture)
    val t = new TextPartitioner()
    fuzzFormat("text", textSeed, 6)(b => outBytes(t.partition(doc("m.txt", b))))
    val v = new TranscriptPartitioner()
    fuzzFormat("vtt", vttSeed, 7)(b => outBytes(v.partition(doc("m.vtt", b))))
  }

  test("fuzz: Warc.records survives mutated WARC, plain and gzipped") {
    fuzzFormat("warc", warcSeed, 8)(b =>
      Warc.records(b).foldLeft(0L)((a, r) => a + r.payload.length))
    fuzzFormat("warc.gz", gz(warcSeed), 9)(b =>
      Warc.records(b).foldLeft(0L)((a, r) => a + r.payload.length))
  }

  private def rasterBytes(b: Array[Byte]): Long =
    MediaOps.decode(b).map(i => i.width.toLong * i.height * 4).getOrElse(0L)

  test("fuzz: raster/audio/video decoders survive mutated media") {
    assert(MediaOps.decode(pngSeed).exists(_.width == 16), "PNG seed must decode")
    fuzzFormat("ppm", ppmSeed, 10)(rasterBytes)
    fuzzFormat("bmp", bmpSeed, 11)(rasterBytes)
    fuzzFormat("png", pngSeed, 15)(rasterBytes)
    fuzzFormat("wav", wavSeed, 13)(b =>
      AudioOps.decodeWav(b).map(_.samples.length.toLong * 4).getOrElse(0L))
    val sampler = new MediaOps.FakeFrameSampler
    fuzzFormat("gfv", videoSeed, 14)(b =>
      sampler.sampleFrames(b, 2).foldLeft(0L)(_ + _.length))
  }

  test("fuzz: PNG decoder survives mutated fixture PNG") {
    assumeFixture(PngFixture)
    fuzzFormat("png-fixture", pngFixtureSeed, 12)(rasterBytes)
  }

  private def fuzzSniff(seeds: (String, Array[Byte], Long)*): Unit =
    seeds.foreach { case (name, seed, offset) =>
      fuzzFormat(s"sniff:$name", seed, offset, n = 60)(b => Sniff.sniff(b).length.toLong)
    }

  test("fuzz: Sniff.sniff survives every format's mutants") {
    assert(Sniff.sniff(genPdfSeed) == "pdf" && Sniff.sniff(genHtmlSeed) == "html",
      "generated seeds must reach the pdf and html sniff branches")
    fuzzSniff(("pptx", pptxSeed, 22), ("warc", warcSeed, 23), ("ppm", ppmSeed, 24),
      ("bmp", bmpSeed, 25), ("wav", wavSeed, 26), ("gfv", videoSeed, 27),
      ("pdf", genPdfSeed, 28), ("html", genHtmlSeed, 29))
  }

  test("fuzz: Sniff.sniff survives fixture PDF/HTML mutants") {
    assumeFixture(PdfFixture, HtmlFixture)
    fuzzSniff(("pdf-fixture", pdfSeed, 20), ("html-fixture", htmlSeed, 21))
  }

  test("fuzz: partitionAuto over a mixed mutant corpus — no task death") {
    assumeFixture(PdfFixture, HtmlFixture, DocxFixture, TextFixture)
    // the engine-level assertion the brief asks for: the SAME mutants,
    // through the real Spark path, one batch — a single poisoned document
    // must degrade in place, not kill its task (and with it the job)
    val spark = SparkFixture.spark
    val rnd = new Random(SeedBase + 99)
    val corpus = scala.collection.mutable.ArrayBuffer.empty[Document]
    def add(fmt: String, seed: Array[Byte], n: Int): Unit = {
      var i = 0
      while (i < n) {
        val (_, b) = mutantOf(seed, rnd)
        corpus += doc(s"fz-$fmt-$i.$fmt", b)
        i += 1
      }
    }
    add("pdf", pdfSeed, 40); add("html", htmlSeed, 40)
    add("docx", docxSeed, 40); add("pptx", pptxSeed, 40)
    add("txt", textSeed, 20); add("vtt", vttSeed, 20)
    // extension-less: forces the Sniff fallback inside partitionAuto
    (0 until 20).foreach { i =>
      val (_, b) = mutantOf(pdfSeed, rnd); corpus += doc(s"fz-noext-$i", b)
    }
    val out = DocSet.of(spark, corpus.toSeq)
      .partitionAuto(tables = Some(new GeomTableProvider())).takeAll()
    assert(out.size == corpus.size, "every document must come back")
    assert(out.forall(d => outBytes(d) <= MaxOutBytes))
  }
}
