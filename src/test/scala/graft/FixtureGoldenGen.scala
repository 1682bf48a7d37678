package graft

import graft.model.Document
import graft.operators._
import graft.sources.DocRead

/**
 * Golden-snapshot GENERATOR for the real-document fixture suite
 * (RealFixtureSpec). Runs the full chunking pipeline — partition →
 * mark-bbox preset → marked merge → split → markdown — over the
 * reference's own test corpus (read-only under
 * /root/reference/lib/sycamore/sycamore/tests/resources/data) and prints
 * one JSON object per file capturing element counts, the element-type
 * histogram, and text prefixes. Output is pasted into
 * src/test/resources/goldens/real_fixtures.json after HUMAN review of the
 * extracted text (the spec also asserts content words independently, so a
 * regenerated golden full of garbage cannot pass silently).
 *
 * Usage: sbt "Test/runMain graft.FixtureGoldenGen"
 */
object FixtureGoldenGen {
  val DataDir = "/root/reference/lib/sycamore/sycamore/tests/resources/data"

  /** The pipeline under snapshot — shared verbatim with RealFixtureSpec so
    * the spec tests exactly what the generator froze. */
  def chunk(doc: Document, partitioner: Partitioner,
            maxTokens: Int = 512): ChunkTrace = {
    val partitioned = partitioner.partition(doc)
    val marked = Marks.bboxPreset(maxTokens)(partitioned)
    val merged = marked.copy(elements = new MarkedMerger().merge(marked.elements))
    val split = merged.copy(elements =
      SplitElements.split(merged.elements, maxTokens))
    val md = Markdown.toMarkdown(split)
    ChunkTrace(partitioned, merged, split, md)
  }

  final case class ChunkTrace(partitioned: Document, merged: Document,
                              split: Document, markdown: Document)

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      // non-ASCII escaped too: the file must survive any console/locale
      case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Element-level table shape: for every `table` element, the cell count,
    * header-flag count, and each cell's row/col extent in reading order —
    * so span-logic drift (gridSpan/vMerge/rowSpan handling) on the REAL
    * fixtures is caught, not just on synthetic XML. Non-table files
    * snapshot as "". */
  def gridSig(doc: Document): String =
    doc.elements.filter(_.elementType == "table").map { tb =>
      val cells = tb.tableCells.sortBy(c => (c.rows.head, c.cols.head))
      s"cells=${cells.size};hdr=${cells.count(_.isHeader)};" +
        cells.map(c => s"r${c.rows.head}-${c.rows.last}c${c.cols.head}-${c.cols.last}" +
          (if (c.isHeader) "H" else "")).mkString(",")
    }.mkString("|")

  def snapshot(name: String, t: ChunkTrace): String = {
    val hist = t.partitioned.elements.groupBy(_.elementType).view
      .mapValues(_.size).toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ", ", "}")
    val firstText = t.partitioned.elements.headOption.map(_.text.take(80)).getOrElse("")
    val totalChars = t.partitioned.elements.map(_.text.length).sum
    s"""  ${jstr(name)}: {
       |    "partitioned_elements": ${t.partitioned.elements.size},
       |    "type_histogram": $hist,
       |    "total_text_chars": $totalChars,
       |    "merged_elements": ${t.merged.elements.size},
       |    "split_elements": ${t.split.elements.size},
       |    "first_text_prefix": ${jstr(firstText)},
       |    "markdown_prefix": ${jstr(t.markdown.text.take(80))},
       |    "markdown_chars": ${t.markdown.text.length},
       |    "table_grid_signature": ${jstr(gridSig(t.partitioned))}
       |  }""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val spark = GateHarness.session(cpus = 4)

    def corpus(sub: String, ext: String, p: => Partitioner): Seq[(Document, Partitioner)] =
      DocRead.binary(spark, s"$DataDir/$sub", ext)
        .takeAll().sortBy(_.prop("path").getOrElse(""))
        .map(d => (d, p))

    val all: Seq[(Document, Partitioner)] =
      corpus("pdfs", "pdf", new PdfPartitioner()) ++
        corpus("htmls", "html", new HtmlPartitioner()) ++
        corpus("docx", "docx", new DocxPartitioner()) ++
        corpus("pptx", "pptx", new PptxPartitioner()) ++
        corpus("texts", "txt", new TextPartitioner())

    val entries = all.map { case (d, p) =>
      val name = d.prop("path").getOrElse("?").split('/').last
      snapshot(name, chunk(d, p))
    }
    val outPath = args.headOption.getOrElse("/tmp/real_fixtures.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      entries.mkString("{\n", ",\n", "\n}\n"))
    println(s"GOLDEN_WRITTEN $outPath")

    // human-review aid: dump a fuller text sample per file
    all.foreach { case (d, p) =>
      val name = d.prop("path").getOrElse("?").split('/').last
      val t = chunk(d, p)
      System.err.println(s"===== $name: ${t.partitioned.elements.size} els =====")
      t.partitioned.elements.take(6).foreach(e =>
        System.err.println(s"  [${e.elementType}] ${e.text.take(110).replace('\n', ' ')}"))
    }
    spark.stop()
  }
}
