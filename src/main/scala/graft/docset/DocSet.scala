package graft.docset

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Document, Element}
import graft.operators.ElementMerger
import graft.llm.{EntityExtractor, LlmClient, PromptTemplate}
import graft.embed.Embedder

/**
 * The product API: a fluent facade over Dataset[Document] exposing the
 * reference's DocSet verb set (reference: lib/sycamore/sycamore/docset.py —
 * 1846 LoC of Ray plumbing collapses to a thin wrapper here because Catalyst
 * replaces the Node tree: every verb is lazy, the plan is optimized by
 * Spark, and actions trigger execution).
 */
final class DocSet(val ds: Dataset[Document]) extends Serializable {
  import DocSet._

  def spark: SparkSession = ds.sparkSession
  def toDF: DataFrame = ds.toDF()

  // ----------------------------------------------------------- per-doc maps
  // (reference: docset.py:1010 map, :1097 flat_map, :1261 map_batch,
  //  :1160 filter, :1315 map_elements, :1186 filter_elements)

  def map(f: Document => Document): DocSet = wrap(ds.map(f))
  def flatMap(f: Document => Seq[Document]): DocSet = wrap(ds.flatMap(f))

  /** Parse binaries into elements (reference: docset.py partition(
    * partitioner=...)). Partitioners are Serializable and per-row pure, so
    * this is a plain partition-parallel map. */
  def partition(p: graft.operators.Partitioner): DocSet = map(p.partition)

  /** Partition with per-document format dispatch on docType / path
    * extension (pdf, html, docx, pptx, transcript, text) — the
    * mixed-corpus convenience the reference gets from choosing a
    * partitioner per read call. The partitioner set is constructed once
    * per executor task, not per document. A doc matching NO partitioner
    * flows through with zero elements but gets an
    * `unsupported_format` property (the reference raises on unsupported
    * types, reader.py format dispatch; at corpus scale a marker an audit
    * can count beats failing the whole job for one stray file).
    * `ocr`: optional pluggable OcrProvider for scanned/image-only PDFs;
    * `tables`: optional pluggable TableStructureProvider turning bbox'd
    * PDF text clusters into structured `table` elements — both
    * constructed once per executor task with the partitioner set. */
  def partitionAuto(ocr: Option[graft.operators.OcrProvider] = None,
                    tables: Option[graft.operators.TableStructureProvider] = None)
      : DocSet = mapBatch { it =>
    val pdf = new graft.operators.PdfPartitioner(ocr, tables)
    val html = new graft.operators.HtmlPartitioner()
    val docx = new graft.operators.DocxPartitioner()
    val pptx = new graft.operators.PptxPartitioner()
    val text = new graft.operators.TextPartitioner()
    val transcript = new graft.operators.TranscriptPartitioner()
    def formatOf(d: Document): String =
      d.docType.getOrElse {
        // extension from the BASENAME: a dot in a directory component
        // ('/corpus/v2.1/report') must not read as extension '1/report' —
        // that would both misdispatch and suppress the sniffing fallback
        val id = d.docId.toLowerCase
        val base = id.substring(id.lastIndexOf('/') + 1)
        val dot = base.lastIndexOf('.')
        val ext = if (dot < 0) "" else base.substring(dot + 1)
        // EXTENSION-LESS payloads (WARC bodies, CDN download URLs) fall
        // back to magic-byte sniffing before the unsupported_format
        // marker fires; an explicit unknown extension keeps the marker —
        // the caller named the format, second-guessing it hides mistakes
        if (ext.nonEmpty) ext
        else d.binaryRepresentation.map(graft.operators.Sniff.sniff)
          .filter(_.nonEmpty).getOrElse("")
      }
    it.map { d =>
      formatOf(d) match {
        case "pdf" => pdf.partition(d)
        case "html" | "htm" => html.partition(d)
        case "docx" => docx.partition(d)
        case "pptx" => pptx.partition(d)
        case "txt" | "text" => text.partition(d)
        case "transcript" | "vtt" => transcript.partition(d)
        case fmt => d.withProp("unsupported_format", if (fmt.isEmpty) "unknown" else fmt)
      }
    }
  }
  /** Batch-friendly map (reference MapBatch) = mapPartitions. */
  def mapBatch(f: Iterator[Document] => Iterator[Document]): DocSet = wrap(ds.mapPartitions(f))
  def filter(p: Document => Boolean): DocSet = wrap(ds.filter(p))
  def mapElements(f: Element => Element): DocSet =
    map(d => d.copy(elements = d.elements.map(f)))
  def filterElements(p: Element => Boolean): DocSet =
    map(d => d.copy(elements = d.elements.filter(p)))

  /** reference: docset.py:315 with_property. */
  def withProperty(name: String, f: Document => String): DocSet =
    map(d => d.withProp(name, f(d)))
  def withProperties(fs: (String, Document => String)*): DocSet =
    map(d => fs.foldLeft(d) { case (acc, (n, f)) => acc.withProp(n, f(acc)) })

  /** Copy doc-level properties down to every element
    * (reference: transforms/spread_properties.py:8). The DOC value wins on a
    * key collision — the reference assigns unconditionally over existing
    * element properties (spread_properties.py:38-43, with an explicit TODO
    * that element-wins is NOT yet offered). */
  def spreadProperties(keys: Seq[String]): DocSet = map { d =>
    val spread = keys.flatMap(k => d.properties.get(k).map(k -> _)).toMap
    d.copy(elements = d.elements.map(e => e.copy(properties = e.properties ++ spread)))
  }

  /** Lift the first matching element's properties up to the doc
    * (reference: transforms/assign_doc_properties.py). */
  def assignDocProperties(elementType: String, prefix: String = "entity"): DocSet = map { d =>
    d.elements.find(_.elementType == elementType) match {
      case Some(e) => d.copy(properties = d.properties ++
        e.properties.map { case (k, v) => s"$prefix.$k" -> v })
      case None => d
    }
  }

  /** Regex substitutions over element text (reference: transforms/regex_replace.py:16).
    * Patterns compile ONCE in the closure — String.replaceAll would
    * re-compile every pattern per element on a corpus-scale hot path. */
  def regexReplace(spec: Seq[(String, String)]): DocSet = {
    val compiled = spec.map { case (re, rep) =>
      (java.util.regex.Pattern.compile(re), rep)
    }
    mapElements { e =>
      e.textRepresentation match {
        case Some(t) => e.withText(compiled.foldLeft(t) {
          case (s, (p, rep)) => p.matcher(s).replaceAll(rep)
        })
        case None => e
      }
    }
  }

  /** Rewrite text_representation from a template over properties
    * (reference: transforms/augment_text.py). Template placeholders: {key}. */
  def augmentText(template: String): DocSet = map { d =>
    val out = PromptTemplate.render(template, d)
    d.withText(out)
  }

  // --------------------------------------------------------- restructuring
  // (reference: §2.4 — explode, unroll, split_elements, merge, markdown)

  /** Promote each element to a top-level Document; parent retained (with
    * elements cleared), children get parent_id + inherit "_"-prefixed props,
    * and record their ordinal as properties["_element_index"] (the
    * reference's element-order key, data/element.py:27) so reconstruct()
    * can restore element order (reference: transforms/explode.py:10,42-55). */
  def explode(): DocSet = flatMap { d =>
    val inherited = d.properties.filter { case (k, _) => k.startsWith("_") }
    val children = d.elements.map { e =>
      Document(
        docId = s"${d.docId}#${e.elementIndex}",
        lineageId = Document.lineageOf(s"${d.lineageId}#${e.elementIndex}"),
        docType = Some(e.elementType),
        textRepresentation = e.textRepresentation,
        binaryRepresentation = e.binaryRepresentation,
        elements = Nil,
        embedding = e.embedding,
        shingles = None,
        parentId = Some(d.docId),
        bbox = e.bbox,
        properties = inherited ++ e.properties ++
          // Document has no tableCells field: extracted table structure
          // rides the round trip as JSON, or reconstruct() would silently
          // rebuild every table element with empty cells
          (if (e.tableCells.nonEmpty)
             Map("_table_cells_json" -> DocSet.tableCellsToJson(e.tableCells))
           else Map.empty[String, String]) +
          ("_element_index" -> e.elementIndex.toString))
    }
    d.copy(elements = Nil) +: children
  }

  /**
   * Reassemble exploded chunk-docs into their parent documents — the inverse
   * of explode() (reference: connectors/opensearch read-back
   * reconstruct_document, reader.py:226-375, the engine-portable piece of
   * the connector surface). Docs carrying a parent_id become elements of
   * the doc whose docId equals that parent_id, ordered by their recorded
   * _element_index; docs without children pass through unchanged; orphan
   * chunks (parent row absent, e.g. filtered out upstream) get a synthesized
   * parent holding just those elements.
   *
   * Scale shape: one shuffle on the parent key; each group is ONE document's
   * chunks, so per-group memory is bounded by document size, not corpus
   * size. "_"-prefixed chunk properties that explode() copied down from the
   * parent are stripped when they match the parent's value.
   */
  def reconstruct(): DocSet = {
    val keyed = ds.groupByKey(d => d.parentId.getOrElse(d.docId))(Encoders.STRING)
    wrap(keyed.mapGroups { (key, it) =>
      val docs = it.toSeq
      val (parents, children) = docs.partition(_.parentId.isEmpty)
      val parent = parents.headOption.getOrElse(
        Document.of(key, docType = "reconstructed"))
      if (children.isEmpty) parent
      else {
        val els = children
          .map { c =>
            val idx = c.prop("_element_index").flatMap(_.toIntOption).getOrElse(Int.MaxValue)
            val cells = c.prop("_table_cells_json")
              .map(DocSet.tableCellsFromJson).getOrElse(Nil)
            val props = (c.properties - "_element_index" - "_table_cells_json")
              .filterNot { case (k, v) =>
                k.startsWith("_") && parent.properties.get(k).contains(v)
              }
            Element(c.docType.getOrElse("chunk"), c.textRepresentation,
              c.binaryRepresentation, c.bbox, c.embedding, idx, cells, props)
          }
          .sortBy(e => (e.elementIndex, e.text))
        parent.copy(elements = els)
      }
    }(docEnc))
  }

  /** Split a multi-valued (comma-separated) property into one doc per value
    * (reference: transforms/explode.py:68 UnRoll). */
  def unroll(field: String, sep: String = ","): DocSet = flatMap { d =>
    d.fieldToValue(field) match {
      // Pattern.quote: sep is a LITERAL separator — raw split() treats it
      // as a regex, so sep = "|" would explode per character and "." on
      // every character
      case Some(v) =>
        v.split(java.util.regex.Pattern.quote(sep)).toSeq.zipWithIndex
          .map { case (part, i) =>
            d.setField(field, part.trim).copy(docId = s"${d.docId}#u$i")
          }
      case None => Seq(d)
    }
  }

  /** Apply an element merger per doc — sequential fold in element order
    * (reference: transforms/merge_elements.py; order preserved via
    * elementIndex sort, SURVEY §7.3). */
  def merge(merger: ElementMerger): DocSet = map { d =>
    d.copy(elements = merger.merge(d.elements.sortBy(_.elementIndex))
      .zipWithIndex.map { case (e, i) => e.copy(elementIndex = i) })
  }

  /** Recursively bisect over-long elements (reference: transforms/split_elements.py:12). */
  def splitElements(maxTokens: Int): DocSet = map { d =>
    d.copy(elements = graft.operators.SplitElements.split(d.elements, maxTokens)
      .zipWithIndex.map { case (e, i) => e.copy(elementIndex = i) })
  }

  /** Rewrite all elements as one markdown text blob (reference: transforms/markdown.py:8). */
  def markdown(): DocSet = map(graft.operators.Markdown.toMarkdown)

  /** Annotate elements with their section hierarchy (reference:
    * transforms/extract_document_structure.py:266; see DocStructure for the
    * flat-annotation representation rationale). */
  def extractDocumentStructure(structure: Document => Document =
      graft.operators.DocStructure.bySection _): DocSet = map(structure)

  /** The reference's HierarchicalDocument children tree (data/document.py:421)
    * as a nested Dataset — document -> sections -> elements, one typed row
    * per document. Annotates sections first when the doc isn't already
    * structured; per-partition transform, no shuffle. */
  def hierarchy(): org.apache.spark.sql.Dataset[graft.operators.TreeDocument] = {
    implicit val enc: org.apache.spark.sql.Encoder[graft.operators.TreeDocument] =
      org.apache.spark.sql.Encoders.product[graft.operators.TreeDocument]
    ds.map(graft.operators.DocStructure.tree _)
  }

  /** Caption image elements via a pluggable VLM
    * (reference: transforms/summarize_images.py:184). */
  def summarizeImages(captioner: graft.operators.ImageCaptioner,
                      includeContext: Boolean = true): DocSet =
    map(graft.operators.MultimodalOps.summarizeImages(_, captioner, includeContext))

  /** Decode raster image elements (PPM/BMP built in; codec'd formats plug
    * into MediaOps.decode): width/height/mean_rgb into element properties,
    * the 64-dim color histogram into element.embedding — so image elements
    * flow into the existing vector ops (cosine pairs, ANN, semDedup). */
  def decodeImages(): DocSet = map { d =>
    d.copy(elements = d.elements.map { e =>
      e.binaryRepresentation.flatMap(graft.operators.MediaOps.decode) match {
        case Some(img) =>
          e.copy(embedding = Some(graft.operators.MediaOps.colorHistogram(img)))
            .withProps(
              "image.width" -> img.width.toString,
              "image.height" -> img.height.toString,
              "image.mean_rgb" -> img.meanRgb().toString)
        case None => e
      }
    })
  }

  /** Sample frames out of a video document's binary into VideoFrame
    * elements (partition-parallel; the sampler is pluggable — a
    * codec-backed one in production, MediaOps.FakeFrameSampler in tests). */
  def sampleFrames(sampler: graft.operators.MediaOps.FrameSampler,
                   everyN: Int = 1): DocSet = map { d =>
    d.binaryRepresentation.map(b => sampler.sampleFrames(b, everyN)) match {
      case Some(frames) if frames.nonEmpty =>
        // next index AFTER the max existing one — element indexes need not
        // be dense (filtering transforms don't renumber), and a collision
        // would interleave frames nondeterministically in order-sensitive
        // downstream ops (merge, splitElements)
        val base = d.elements.map(_.elementIndex).maxOption.getOrElse(-1) + 1
        d.copy(elements = d.elements ++ frames.zipWithIndex.map { case (f, i) =>
          graft.model.Element("VideoFrame", None, Some(f), None, None,
            base + i, Nil, Map("frame.sample_index" -> i.toString))
        })
      case _ => d
    }
  }

  /** Decode PCM WAV audio elements (RIFF parse built in; codec'd formats
    * plug into AudioOps.decodeWav): sample rate / duration / RMS / zero
    * crossings into element properties, the 64-segment energy envelope
    * into element.embedding — so audio elements flow into the existing
    * vector ops, mirroring decodeImages. */
  def decodeAudio(): DocSet = map { d =>
    d.copy(elements = d.elements.map { e =>
      e.binaryRepresentation.flatMap(graft.operators.AudioOps.decodeWav) match {
        case Some(a) =>
          e.copy(embedding = Some(a.energyEnvelope(64)))
            .withProps(
              "audio.sample_rate" -> a.sampleRate.toString,
              "audio.n_samples" -> a.samples.length.toString,
              "audio.duration_s" -> f"${a.durationSeconds}%.6f",
              "audio.rms" -> f"${a.rms}%.6f",
              "audio.zcr" -> f"${a.zeroCrossingRate}%.6f")
        case None => e
      }
    })
  }

  /** Query-as-document (reference: docset.py:1351, transforms/query.py:14):
    * every document in this set is a search query — `properties("index")`
    * (else `defaultIndex`) plus a SearchWire JSON body in its text — and
    * maps to a result document whose elements are the hits, each carrying
    * score + DB_QUERY provenance. See [[graft.sources.SearchRead.queryDocs]]. */
  def query(factory: graft.sources.SearchClientFactory,
            defaultIndex: Option[String] = None, pageSize: Int = 500): DocSet =
    wrap(graft.sources.SearchRead.queryDocs(ds, factory, defaultIndex, pageSize))

  /** Free-form LLM query per doc (reference: transforms/llm_query.py:135). */
  def llmQuery(client: LlmClient, prompt: String,
               outputField: String = "llm_response"): DocSet =
    map(graft.operators.MultimodalOps.llmQuery(_, client, prompt, outputField))

  /** Table cells -> key/value properties (reference:
    * transforms/extract_table_properties.py:105). */
  def extractTableProperties(client: Option[LlmClient] = None): DocSet =
    map(graft.operators.MultimodalOps.extractTableProperties(_, client))

  // -------------------------------------------------- relational operators

  /** Keep docs whose `field1` appears in docset2's `field2` — left semi join
    * (reference: docset.py:1646 field_in COLLECTS the build side to the
    * driver; here Spark picks a broadcast semi join itself). */
  def fieldIn(other: DocSet, field1: String, field2: String): DocSet = {
    val left = ds.toDF()
    val right = other.ds.toDF().select(fieldCol(field2).as("__k")).distinct()
    wrap(left.join(right, fieldCol(field1) === col("__k"), "left_semi").as[Document](docEnc))
  }

  /** Bag union, no dedup (reference: transforms/union.py — binary-tree merge
    * is unnecessary; Spark unions are metadata-only). */
  def union(others: DocSet*): DocSet =
    wrap(others.foldLeft(ds)((acc, o) => acc.unionAll(o.ds)))

  def randomSample(fraction: Double, seed: Long = 42L): DocSet =
    wrap(ds.sample(withReplacement = false, fraction, seed))

  /** Deterministic hash sampling: keep docs whose keyed fingerprint lands in
    * the first `fraction` of the hash range. Unlike randomSample this is
    * REPRODUCIBLE across engines, runs, and partitionings — the property a
    * training-corpus split needs (holdout membership must never depend on
    * execution) — and different salts give independent samples.
    *
    * The hashed string is `key:salt:key` — the doubling guarantees enough
    * length that the rolling polynomial wraps its modulus even for 1-char
    * keys (a short key alone never wraps, leaving the low-order bucket
    * biased by key magnitude). */
  def sampleByHash(fraction: Double, field: String = "doc_id",
                   salt: String = ""): DocSet = {
    val k = fieldCol(field).cast("string")
    val bucket = pmod(
      graft.functions.gf.polyFingerprint(
        concat(k, lit(":"), lit(salt), lit(":"), k)), lit(10000L))
    wrap(ds.toDF().where(bucket < (fraction * 10000).toLong)
      .as[Document](docEnc))
  }

  /** Sort by dotted field. With no default value, docs missing the field are
    * dropped — faithfully matching the reference (transforms/sort.py:12
    * DropIfMissingField).
    *
    * Ordering is TYPE-AWARE over our string-valued properties: values that
    * cast to double sort numerically (the reference sorts typed Python
    * values, where 999.99 < 10000), non-numeric values sort lexically after
    * them — a lexical-only sort would order "999.99" above "10000". */
  def sort(descending: Boolean, field: String, defaultVal: Option[String] = None): DocSet = {
    val key = fieldCol(field)
    val df = ds.toDF().withColumn("__key",
      defaultVal.map(d => coalesce(key, lit(d))).getOrElse(key))
    val pruned = if (defaultVal.isEmpty) df.where(col("__key").isNotNull) else df
    // try_cast: ANSI mode makes a plain cast THROW on non-numeric strings
    val keyed = pruned.withColumn("__kn", expr("try_cast(__key AS DOUBLE)"))
    val order =
      if (descending) Seq(asc("__knull"), desc("__kn"), desc("__key"))
      else Seq(asc("__knull"), asc("__kn"), asc("__key"))
    wrap(keyed.withColumn("__knull", col("__kn").isNull)
      .orderBy(order: _*)
      .drop("__key", "__kn", "__knull").as[Document](docEnc))
  }

  /** Distributed limit (reference iterates on the driver, basics.py:11). */
  def limit(n: Int): DocSet = wrap(ds.limit(n))

  // ----------------------------------------------------------- aggregation

  def count(): Long = ds.count()

  def countDistinct(field: String): Long =
    ds.toDF().select(fieldCol(field)).na.drop().distinct().count()

  /** groupby_count contract: output Documents with properties {key, count}
    * (reference: transforms/groupby_count.py:86-92 — the query layer depends
    * on exactly this shape). */
  def groupbyCount(field: String, uniqueField: Option[String] = None): DocSet = {
    val keyed = ds.toDF().select(fieldCol(field).cast("string").as("key"),
      uniqueField.map(u => fieldCol(u).cast("string")).getOrElse(lit(1)).as("u"))
      .where(col("key").isNotNull)
    val counted = uniqueField match {
      case Some(_) => keyed.groupBy(col("key")).agg(countDistinctCol(col("u")).as("count"))
      case None    => keyed.groupBy(col("key"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("count"))
    }
    val out = counted.as[(String, Long)](Encoders.product[(String, Long)]).map { kc =>
      Document.of(s"groupby_count:${kc._1}",
        properties = Map("key" -> kc._1, "count" -> kc._2.toString))
    }(docEnc)
    wrap(out)
  }

  /** top_k = [optional LLM normalize ->] groupby_count -> sort desc -> limit k
    * (reference: docset.py:1485; Catalyst compiles the sort+limit into
    * TakeOrderedAndProject). k <= 0 means no limit (reference K=None). */
  def topK(field: String, k: Int, descending: Boolean = true,
           uniqueField: Option[String] = None,
           llmCluster: Boolean = false, llmClient: Option[LlmClient] = None,
           llmClusterInstruction: Option[String] = None): DocSet = {
    val (src, keyField) =
      if (llmCluster) {
        val client = llmClient.getOrElse(throw new IllegalArgumentException(
          "topK with llmCluster=true needs an LlmClient"))
        (llmClusterEntity(client, llmClusterInstruction.getOrElse(""), field),
          "properties._autogen_ClusterAssignment")
      } else (this, field)
    val counted = src.groupbyCount(keyField, uniqueField).sortByCountKey(descending)
    if (k > 0) counted.limit(k) else counted
  }

  /** LLM-normalized clustering of a string field: sample distinct values ->
    * ONE driver LLM call proposing group names -> broadcast groups ->
    * per-doc batched assignment (reference: docset.py:1590 llm_cluster_entity,
    * :1531 llm_generate_group — the sample->driver-LLM->broadcast-assign
    * pattern; the driver call is O(sample), the assignment is partition-
    * parallel, so the shape scales). */
  def llmClusterEntity(client: LlmClient, instruction: String, field: String,
                       newField: String = "properties._autogen_ClusterAssignment",
                       sampleSize: Int = 100): DocSet = {
    val sample = ds.toDF().select(fieldCol(field).cast("string").as("__v"))
      .where(col("__v").isNotNull)
      .distinct().orderBy(col("__v")).limit(sampleSize)
      .as[String](Encoders.STRING).collect().toSeq
    val groups = client.generate(
        s"$instruction\nForm group names for these values, one per line:\n" +
          sample.mkString("\n"))
      .split("\n").map(_.trim).filter(_.nonEmpty).distinct.toSeq
    val bc = spark.sparkContext.broadcast(groups)
    mapBatch { it =>
      it.grouped(16).flatMap { batch =>
        val prompts = batch.map { d =>
          val v = d.fieldToValue(field).getOrElse("")
          s"""Assign the value "$v" to exactly one of these groups; answer with the group name only:
             |${bc.value.mkString("\n")}""".stripMargin
        }
        val outs = client.generateBatch(prompts)
        batch.zip(outs).map { case (d, o) => d.setField(newField, o.trim) }
      }
    }
  }

  /** count sorted with deterministic key tiebreak (internal helper for topK). */
  private def sortByCountKey(descending: Boolean): DocSet = {
    val df = ds.toDF()
      .withColumn("__c", element_at(col("properties"), "count").cast("long"))
      .withColumn("__k", element_at(col("properties"), "key"))
    val sorted = df.orderBy(
      (if (descending) desc("__c") else asc("__c")), asc("__k"))
    wrap(sorted.drop("__c", "__k").as[Document](docEnc))
  }

  /** Whole-docset aggregation (group of everything). */
  def aggregate(agg: DocAggregation): DocSet = groupby(_ => "__all__").aggregate(agg)

  def groupby(keyFn: Document => String): GroupedDocSet =
    new GroupedDocSet(ds.groupByKey(keyFn)(Encoders.STRING))

  /** Groupwise deterministic reduce (reference: aggregation.py:221 Reduce —
    * sub_docs sorted by doc_id before fn for determinism). */
  def reduce(fn: Seq[Document] => Document, keyFn: Document => String): DocSet =
    groupby(keyFn).reduce(fn)

  /** Redact PII (emails / SSNs / phone numbers / IPv4s) from document and
    * element text — training-corpus cleaning with the same patterns as
    * gf.scrubPii, so the DocSet verb and the columnar path agree. */
  def scrubPii(replacement: String = "[PII]"): DocSet = {
    // patterns compile ONCE in the closure — String.replaceAll would pay
    // 4 Pattern.compile calls per document plus 4 per element
    val compiled = graft.functions.gf.PiiPatterns.map { case (_, p) =>
      java.util.regex.Pattern.compile(p)
    }
    val quoted = java.util.regex.Matcher.quoteReplacement(replacement)
    map { d =>
      def clean(t: String): String =
        compiled.foldLeft(t)((acc, p) => p.matcher(acc).replaceAll(quoted))
      val d2 = d.textRepresentation.map(t => d.withText(clean(t))).getOrElse(d)
      d2.copy(elements = d2.elements.map(e =>
        e.textRepresentation.map(t => e.withText(clean(t))).getOrElse(e)))
    }
  }

  /** Per-doc token->count table into properties.term_frequency
    * (reference: transforms/term_frequency.py:8). */
  def termFrequency(): DocSet = map { d =>
    val tf = d.text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .groupBy(identity).map { case (t, xs) => t -> xs.length }
    // full JSON string escaping: backslash BEFORE quote (a token like
    // 'a\path' would otherwise emit the invalid escape '\p' and null the
    // whole map for any JSON consumer), control chars as \u00XX
    def esc(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val json = tf.toSeq.sortBy(_._1)
      .map { case (t, n) => s""""${esc(t)}":$n""" }
      .mkString("{", ",", "}")
    d.withProp("term_frequency", json)
  }

  // --------------------------------------------------------- vectors / ML

  /** Batch-embed text_representation -> embedding (reference: transforms/embed.py;
    * model handle is per-partition, batched — the Spark shape of their GPU
    * actor pool). */
  def embed(embedder: Embedder, batchSize: Int = 64): DocSet = mapBatch { it =>
    it.grouped(batchSize).flatMap { batch =>
      val vecs = embedder.embed(batch.map(_.text))
      // a short batch would silently DELETE the unzipped documents
      require(vecs.size == batch.size,
        s"embedder returned ${vecs.size} vectors for ${batch.size} texts")
      batch.zip(vecs).map { case (d, v) => d.copy(embedding = Some(v)) }
    }
  }

  /** K-Means over the embedding column via MLlib (reference hand-rolls the
    * loop over Ray, transforms/clustering.py:4-74; MLlib's implementation is
    * the battle-tested distributed one). Returns centroids: at most k, and
    * at most one per distinct embedding. */
  def kmeans(k: Int, maxIter: Int = 20, seed: Long = 42L): Seq[Seq[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val embedded = ds.toDF().where(col("embedding").isNotNull).select(col("embedding"))
    // MLlib indexes k centres even when seeding finds fewer distinct points
    // (ArrayIndexOutOfBounds). Below k distinct points each point is its
    // own centroid, the cost-0 optimum; sorted so cluster ids do not
    // depend on partitioning.
    val few = embedded.distinct().limit(k).collect()
    if (few.length < k)
      few.map(_.getSeq[Float](0).map(_.toDouble)).toSeq.sortBy(_.mkString(","))
    else {
      val feats = embedded.select(array_to_vector(col("embedding")).as("features"))
      val model = new KMeans().setK(k).setMaxIter(maxIter).setSeed(seed).fit(feats)
      model.clusterCenters.toSeq.map(_.toArray.toSeq)
    }
  }

  /** Assign nearest-centroid id into properties.cluster
    * (reference: docset.py:1082 clustering). */
  def clustering(centroids: Seq[Seq[Double]], property: String = "cluster"): DocSet = map { d =>
    d.embedding match {
      case Some(v) if centroids.nonEmpty =>
        val cid = centroids.zipWithIndex.minBy { case (c, _) =>
          var s = 0.0; var i = 0
          while (i < c.length) { val diff = c(i) - v(i); s += diff * diff; i += 1 }
          s
        }._2
        d.withProp(property, cid.toString)
      case _ => d
    }
  }

  /** Compute near-dup shingle sketch into `shingles`
    * (reference: transforms/sketcher.py:29; functions/simhash.py). */
  def sketch(window: Int = 17, number: Int = 16): DocSet = {
    require(window >= 1 && number >= 1, s"window ($window) and number ($number) must be >= 1")
    map(d => d.copy(shingles = Some(graft.operators.Sketcher.shingles(d.text, window, number))))
  }

  /** Drop near-duplicates via LSH banding over shingle sketches — the
    * scalable replacement for the reference's O(n^2) single-actor
    * SketchUniquify (transforms/sketcher.py:64). A doc is dropped only when
    * a VERIFIED near-duplicate with a smaller doc_id exists: band-key
    * collision proposes the candidate pair, sketch distance (1 - matching
    * slot fraction, reference functions/simhash.py shinglesDist) confirms
    * it. Dropping on the band key alone would let a single hash collision
    * between dissimilar docs silently delete a document — at corpus scale
    * that is data loss, not dedup.
    *
    * @param threshold largest sketch distance considered a duplicate
    *                  (reference SketchUniquify default 0.4).
    */
  def sketchDedup(bands: Int = 4, threshold: Double = 0.4,
                  numHashes: Int = 16): DocSet = {
    // Dedup's keep-set drops exactly the docs with a verified band
    // neighbour of smaller docId, joining one row per distinct sketch;
    // distance <= threshold is estimate >= 1 - threshold. numHashes MUST
    // match sketch(number): a sketch of another length is not comparable
    // on this band layout, so it becomes a null signature and is KEPT.
    // The input is read once: a lazy checkpoint that the keep-set's first
    // job fills and that the keep-set's branches and the semi-join side all
    // read, as in Dedup.minhashLsh; otherwise each would re-run the whole
    // upstream pipeline.
    val in = ds.toDF().localCheckpoint(false)
    val sig = in.select(col("docId").as("_id"),
      when(size(col("shingles")) === numHashes, col("shingles")).as("_sig"))
    val keep = graft.dedup.Dedup.minhashLshKeepIds(sig, "docId", numHashes, bands,
      1.0 - threshold)
    wrap(in.join(keep, Seq("docId"), "left_semi").as[Document](docEnc))
  }

  /** Rerank by a similarity scorer then sort desc
    * (reference: transforms/similarity.py:19; scorer is pluggable — a
    * cross-encoder in production, deterministic token-overlap fake in tests). */
  def rerank(scorer: (String, String) => Double, query: String,
             limitN: Option[Int] = None): DocSet = {
    // limitN bounds the SCORING INPUT, matching the reference exactly
    // (docset.py:1392 applies Limit to the plan BEFORE ScoreSimilarity —
    // "Limit scoring and sorting to fixed size"); callers wanting
    // top-N-of-all must score first and limit after the sort
    val limited = limitN.map(limit).getOrElse(this)
    val scored = limited.map(d => d.withProp("_rerank_score", scorer(query, d.text).toString))
    // numeric sort on the score (string sort would put "9" after "10")
    wrap(scored.ds.toDF()
      .withColumn("__s", element_at(col("properties"), "_rerank_score").cast("double"))
      .orderBy(desc_nulls_last("__s"), asc("docId"))
      .drop("__s").as[Document](docEnc))
  }

  // ------------------------------------------------------------ LLM family
  // (reference §2.8: all are mapPartitions + prompt render + pluggable
  //  client + parse; the engine-side shape is identical for every one)

  /** Render prompt per doc, call LLM, store output in a property
    * (reference: transforms/base_llm.py:76 LLMMap). */
  def llmMap(client: LlmClient, prompt: String, outputField: String): DocSet =
    mapBatch { it =>
      it.grouped(16).flatMap { batch =>
        val outs = client.generateBatch(batch.map(d => PromptTemplate.render(prompt, d)))
        // a short batch would silently DELETE the unzipped documents
        require(outs.size == batch.size,
          s"LLM client returned ${outs.size} outputs for ${batch.size} prompts")
        batch.zip(outs).map { case (d, o) => d.setField(outputField, o) }
      }
    }

  /** Same per element (reference: base_llm.py LLMMapElements). */
  def llmMapElements(client: LlmClient, prompt: String, outputKey: String): DocSet =
    map { d =>
      val outs = client.generateBatch(
        d.elements.map(e => PromptTemplate.renderElement(prompt, d, e)))
      require(outs.size == d.elements.size,
        s"LLM client returned ${outs.size} outputs for ${d.elements.size} elements")
      d.copy(elements = d.elements.zip(outs).map { case (e, o) => e.withProps(outputKey -> o) })
    }

  /** LLM-scored filter: keep docs whose score >= threshold
    * (reference: transforms/llm_filter.py:113). */
  def llmFilter(client: LlmClient, prompt: String, threshold: Int = 3,
                scoreField: String = "properties._llm_filter_score"): DocSet =
    llmMap(client, prompt, scoreField)
      .filter { d =>
        val score = d.fieldToValue(scoreField).flatMap { v =>
          // toIntOption: a long digit run in the reply (an echoed date/id)
          // must filter the doc, not NumberFormatException the whole job
          v.trim.takeWhile(_.isDigit).toIntOption
        }
        score.exists(_ >= threshold)
      }

  /**
   * Element-window LLM filter (reference: transforms/llm_filter.py:113-191):
   * elements are ordered (optionally by a similarity scorer against the
   * question — most-relevant first), packed into token-budget windows, and
   * scored window by window with EARLY EXIT on the first passing window —
   * the LLM-call count per kept doc is O(1) when relevance sorting works.
   * Records the best score + source element index like the reference.
   */
  def llmFilterElements(client: LlmClient, question: String, threshold: Int = 3,
                        maxTokens: Int = 512, keepNone: Boolean = false,
                        similarityScorer: Option[(String, String) => Double] = None,
                        newField: String = "_llm_filter_score"): DocSet = {
    val scored = map { d =>
      val els = d.elements.filter(_.text.nonEmpty)
      val ordered = similarityScorer match {
        case Some(scorer) => els.sortBy(e => (-scorer(question, e.text), e.elementIndex))
        case None => els.sortBy(_.elementIndex)
      }
      if (ordered.isEmpty) d
      else {
        // pack into character-budget windows (reference default tokenizer
        // is character-based)
        val windows = scala.collection.mutable.ListBuffer[Seq[graft.model.Element]]()
        var cur = scala.collection.mutable.ListBuffer[graft.model.Element]()
        var used = 0
        ordered.foreach { e =>
          val cost = math.min(e.text.length, maxTokens)
          if (used + cost > maxTokens && cur.nonEmpty) {
            windows += cur.toSeq; cur = scala.collection.mutable.ListBuffer(); used = 0
          }
          cur += e; used += cost
        }
        if (cur.nonEmpty) windows += cur.toSeq
        // early-exit scan
        var best = -1
        var bestIdx = -1
        val it = windows.iterator
        var done = false
        while (it.hasNext && !done) {
          val w = it.next()
          val text = w.map(_.text.take(maxTokens)).mkString("\n")
          val out = client.generate(
            s"$question\nText:\n$text\nRate 0-5 and answer with the number only.")
          val score = "\\d+".r.findAllIn(out).toSeq.lastOption
            .flatMap(_.toIntOption).getOrElse(-1)
          if (score > best) { best = score; bestIdx = w.head.elementIndex }
          if (score >= threshold) done = true
        }
        d.withProps(newField -> best.toString,
          s"${newField}_source_element_index" -> bestIdx.toString)
      }
    }
    scored.filter { d =>
      d.prop(newField).flatMap(_.toIntOption) match {
        case Some(s) => s >= threshold
        case None    => keepNone
      }
    }
  }

  /** Extract one named entity into properties[name]
    * (reference: transforms/extract_entity.py:50). */
  def extractEntity(extractor: EntityExtractor): DocSet = mapBatch(extractor.extract)

  /** LLM-infer a JSON schema per doc into properties._schema
    * (reference: transforms/extract_schema.py:105 LLMSchemaExtractor). */
  def extractSchema(extractor: graft.llm.LlmSchemaExtractor): DocSet =
    mapBatch(extractor.extract)

  /** Infer ONE schema from a sample of docs (single driver LLM call) and
    * broadcast it onto every doc — the scalable shape of the reference's
    * batch-schema actor (extract_schema.py:431 extract_batch_schema). */
  def extractBatchSchema(client: graft.llm.LlmClient, entityName: String,
                         sampleSize: Int = 10): DocSet = {
    val sample = ds.toDF()
      .select(col("docId"), col("textRepresentation"))
      .orderBy(col("docId")).limit(sampleSize)
      .as[(String, String)](Encoders.product[(String, String)])
      .collect().map(_._2).mkString("\n")
    val resp = client.generate(
      s"""Propose a JSON schema for the entity "$entityName" from these samples.
         |Respond with one JSON object mapping property names to {"type": ...}.
         |${graft.llm.SchemaExtraction.DocStart}$sample${graft.llm.SchemaExtraction.DocEnd}""".stripMargin)
    val fields = graft.llm.SchemaExtraction.extractJsonObject(resp)
    val schemaJson =
      if (fields.isEmpty) "{}"
      else org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(org.json4s.JObject(fields.toList)))
    map(_.withProps("_schema" -> schemaJson, "_schema_class" -> entityName))
  }

  /** Attribute extracted property values back to their source elements
    * (reference: transforms/property_extraction/attribution.py:40
    * TextMatchAttributionStrategy): adds `<field>._attr_element/_start/
    * _end/_score_milli/_snippet` evidence properties. Pure per-doc map. */
  def attributeProperties(fields: Seq[String]): DocSet =
    map(graft.operators.PropertyAttribution.attribute(_, fields))

  /** Populate typed properties per schema with validator retries
    * (reference: extract_schema.py:186 LLMPropertyExtractor). */
  def extractProperties(extractor: graft.llm.LlmPropertyExtractor): DocSet =
    mapBatch(extractor.extract)

  /** Summarize each doc into properties.summary (reference: transforms/summarize.py). */
  def summarize(client: LlmClient,
                prompt: String = "Summarize: {text_representation}"): DocSet =
    llmMap(client, prompt, "properties.summary")

  /** Summarize with a pluggable strategy (one-step / multi-step tree-fold /
    * per-element; reference: summarize.py:87,234,414). */
  def summarizeWith(summarizer: graft.operators.DocumentSummarizer): DocSet =
    map(summarizer.summarize)

  // -------------------------------------------------------------- actions

  def take(n: Int): Seq[Document] = ds.take(n).toSeq
  def takeAll(): Seq[Document] = ds.collect().toSeq
  def show(n: Int = 20): Unit = ds.toDF()
    .select(col("docId"), col("docType"), substring(col("textRepresentation"), 1, 60))
    .show(n, truncate = false)

  /** Checkpoint to parquet; read back with DocRead.materialized
    * (reference: materialize.py — success markers / retry batching are
    * subsumed by Spark's committed parquet writes + task retry).
    * `useStored = true` makes the checkpoint a SOURCE on re-run: if a
    * committed write already exists at `path`, skip recomputation and read
    * it back (reference: MaterializeSourceMode.USE_STORED, materialize.py:277). */
  def materialize(path: String, useStored: Boolean = false): DocSet = {
    val committed = useStored && {
      val p = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    if (!committed) ds.write.mode("overwrite").parquet(path)
    wrap(spark.read.parquet(path).as[Document](docEnc))
  }

  /**
   * Incremental checkpoint: run `transform` ONLY over source documents whose
   * doc_id is not yet in the store, append the results, and return the full
   * stored set — the daily-ingest pattern for an append-only corpus, where
   * re-running the whole pipeline over 100 TB to pick up 0.1% new files is
   * the difference between an hour and a month. The reference re-executes
   * everything unless the whole materialize is reusable
   * (materialize.py:277 USE_STORED is all-or-nothing); this processes the
   * delta only.
   *
   * The delta is found by an id-keyed left-anti join against the stored ids
   * (stored side pruned to one column — the scan reads just doc_id at any
   * store size). `transform` must be per-document deterministic; appended
   * rows are never rewritten.
   */
  def materializeIncremental(path: String)(transform: DocSet => DocSet): DocSet = {
    val p = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    val committed = p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    if (!committed) {
      transform(this).ds.write.mode("overwrite").parquet(path)
    } else {
      val storedIds = spark.read.parquet(path).select(col("docId"))
      // persist: the delta is consumed twice (emptiness probe + append
      // write); without it the source scan + anti-join would run two jobs
      val fresh = ds.join(storedIds, Seq("docId"), "left_anti").as[Document](docEnc).persist()
      try {
        if (!fresh.isEmpty)
          transform(wrap(fresh)).ds.write.mode("append").parquet(path)
      } finally fresh.unpersist()
    }
    wrap(spark.read.parquet(path).as[Document](docEnc))
  }

  /** Delete a materialized checkpoint (reference: docset.py:1785
    * clear_materialize): removes the directory so the next
    * materialize(useStored = true) / materializeIncremental recomputes
    * from scratch. Any Hadoop filesystem; returns false when the path
    * didn't exist. */
  def clearMaterialize(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  def writeJson(path: String): Unit = ds.toDF().write.mode("overwrite").json(path)
  def writeParquet(path: String): Unit = ds.write.mode("overwrite").parquet(path)

  /** ORC sink — same Document schema as parquet, for stacks standardized
    * on ORC (Hive-lineage warehouses). Splittable, columnar, and Spark
    * pushes predicates into the ORC scan just like parquet. */
  def writeOrc(path: String): Unit = ds.write.mode("overwrite").orc(path)

  /** One file per document (reference: writer.py:766 write.files). */
  def writeFiles(dir: String): Unit = graft.sources.DocWrite.files(this, dir)

  /** Promote hot dotted properties to real columns so Catalyst can prune,
    * push down, and join on them (SURVEY §7.1 withSchema projection). */
  def project(fields: Seq[String]): DataFrame =
    ds.toDF().select(fields.map(f => fieldCol(f).as(f.replace('.', '_'))): _*)

  private def countDistinctCol(c: Column): Column = count_distinct(c)
}

object DocSet {
  implicit val docEnc: Encoder[Document] = Encoders.product[Document]

  /** TableCell round-trip codec for explode()/reconstruct() — Document has
    * no tableCells field, so extracted table structure rides as a JSON
    * property across the explode round trip. */
  private[graft] def tableCellsToJson(cells: Seq[graft.model.TableCell]): String = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    org.json4s.jackson.Serialization.write(cells)
  }

  private[graft] def tableCellsFromJson(json: String): Seq[graft.model.TableCell] = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    org.json4s.jackson.Serialization.read[Seq[graft.model.TableCell]](json)
  }

  def wrap(ds: Dataset[Document]): DocSet = new DocSet(ds)

  def of(spark: SparkSession, docs: Seq[Document]): DocSet =
    wrap(spark.createDataset(docs)(docEnc))

  /** Dotted-path -> Column (columnar twin of Document.fieldToValue). */
  def fieldCol(path: String): Column = path match {
    case "doc_id"              => col("docId")
    case "lineage_id"          => col("lineageId")
    case "type"                => col("docType")
    case "text_representation" => col("textRepresentation")
    case "parent_id"           => col("parentId")
    case p if p.startsWith("properties.") =>
      // getItem -> GetMapValue: folds through CreateMap back to the raw
      // column (SimplifyExtractValueOps), so predicates on properties of a
      // column-built DocSet push down to the scan; element_at would not fold
      col("properties").getItem(p.stripPrefix("properties."))
    case other => col(other)
  }
}

/** Grouped view (reference: transforms/grouped_data.py + aggregation.py). */
final class GroupedDocSet(val grouped: org.apache.spark.sql.KeyValueGroupedDataset[String, Document]) {
  import DocSet.docEnc

  /** Per-group count -> {properties.key, properties.count} documents. */
  def count(): DocSet = DocSet.wrap(
    grouped.count().map { kc =>
      Document.of(s"group:${kc._1}", properties = Map("key" -> kc._1, "count" -> kc._2.toString))
    }(docEnc))

  /** Generic partial aggregation (hash agg with map-side combine). */
  def aggregate(agg: DocAggregation): DocSet = DocSet.wrap(
    grouped.agg(DocAggregation.toAggregator(agg).toColumn)
      .map { case (k, d) => d.withProp("key", k) }(docEnc))

  /** Groupwise reduce with doc_id-sorted determinism (reference:
    * aggregation.py:221). Collects each group; groups must fit in memory. */
  def reduce(fn: Seq[Document] => Document): DocSet = DocSet.wrap(
    grouped.mapGroups { (k, docs) =>
      fn(docs.toSeq.sortBy(_.docId)).withProp("key", k)
    }(docEnc))

  /** Per-group collect into elements of a summary document
    * (reference: grouped_data.py:52 collect). */
  def collect(): DocSet = reduce { docs =>
    Document.of(s"collect:${docs.headOption.map(_.docId).getOrElse("")}")
      .copy(elements = docs.zipWithIndex.map { case (d, i) =>
        Element(d.docType.getOrElse("doc"), d.textRepresentation, None, d.bbox,
          d.embedding, i, Nil, d.properties + ("doc_id" -> d.docId))
      })
  }
}
