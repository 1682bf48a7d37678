package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.{Bbox, Document, Element, TableCell}
import graft.operators._
import graft.docset.DocSet

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  def el(i: Int, t: String, text: String, props: Map[String, String] = Map.empty): Element =
    Element.text(i, t, text, properties = props)

  test("GreedyTextElementMerger packs to token budget") {
    val els = Seq(el(0, "NarrativeText", "a b c"), el(1, "NarrativeText", "d e"),
      el(2, "NarrativeText", "f g h i j k"), el(3, "NarrativeText", "l"))
    val merged = new GreedyTextElementMerger(6).merge(els)
    assert(merged.map(_.text) == Seq("a b c\nd e", "f g h i j k", "l"))
  }

  test("GreedySectionMerger breaks on headings") {
    val els = Seq(el(0, "Title", "S1"), el(1, "NarrativeText", "a"),
      el(2, "Section-header", "S2"), el(3, "NarrativeText", "b"))
    val merged = new GreedySectionMerger(100).merge(els)
    assert(merged.map(_.text) == Seq("S1\na", "S2\nb"))
  }

  test("MarkedMerger drops _drop, breaks on _break") {
    val els = Seq(
      el(0, "T", "keep1"), el(1, "T", "junk", Map("_drop" -> "true")),
      el(2, "T", "keep2"), el(3, "T", "new", Map("_break" -> "true")),
      el(4, "T", "tail"))
    val merged = new MarkedMerger().merge(els)
    assert(merged.map(_.text) == Seq("keep1\nkeep2", "new\ntail"))
  }

  test("HeaderAugmenterMerger prepends section header") {
    val els = Seq(el(0, "Section-header", "Intro"), el(1, "NarrativeText", "body"))
    val merged = new HeaderAugmenterMerger().merge(els)
    assert(merged(1).text == "Intro\nbody")
    assert(merged(1).prop("_header").contains("Intro"))
  }

  test("TableMerger joins continuation tables") {
    val t1 = el(0, "table", "Sales data").copy(tableCells = Seq(
      TableCell("a", Array(0), Array(0), isHeader = true, None)))
    val t2 = el(1, "table", "continued from previous page").copy(tableCells = Seq(
      TableCell("b", Array(1), Array(0), isHeader = false, None)))
    val merged = new TableMerger().merge(Seq(t1, t2))
    assert(merged.size == 1)
    assert(merged.head.tableCells.size == 2)
  }

  test("SplitElements bisects at sentence boundaries under token budget") {
    val text = ("alpha bravo charlie. " * 10).trim
    val out = SplitElements.splitOne(el(0, "NarrativeText", text), 12)
    assert(out.size >= 2)
    assert(out.forall(e => Tokens.count(e.text) <= 12))
    // splits at sentence boundary: every piece ends with '.' except maybe last
    assert(out.init.forall(_.text.endsWith(".")))
    assert(out.map(_.text.replace("\n", " ")).mkString(" ").split("\\s+").length ==
      text.split("\\s+").length)
  }

  test("Marks: preset pipeline sorts, drops header/footer+tiny, breaks pages/tokens") {
    val d = Document.of("m1").copy(elements = Seq(
      Element("NarrativeText", Some("page2 content"), None,
        Some(Bbox(0.1, 0.2, 0.9, 0.4)), None, 0, Nil, Map("page_number" -> "2")),
      Element("NarrativeText", Some("header text"), None,
        Some(Bbox(0.1, 0.01, 0.9, 0.03)), None, 1, Nil, Map("page_number" -> "1")),
      Element("NarrativeText", Some("tiny"), None,
        Some(Bbox(0.5, 0.5, 0.5001, 0.5001)), None, 2, Nil, Map("page_number" -> "1")),
      Element("NarrativeText", Some("page1 body"), None,
        Some(Bbox(0.1, 0.3, 0.9, 0.5)), None, 3, Nil, Map("page_number" -> "1"))))
    val out = Marks.bboxPreset()(d)
    val byIdx = out.elements.sortBy(_.elementIndex)
    assert(byIdx.head.prop("_drop").contains("true"))       // header band (page1 y=0.01)
    assert(byIdx.map(_.text).indexOf("page1 body") < byIdx.map(_.text).indexOf("page2 content"))
    assert(byIdx.find(_.text == "tiny").get.prop("_drop").contains("true"))
    assert(byIdx.find(_.text == "page2 content").get.prop("_break").contains("true"))
  }

  test("Markdown renders tables with header separator") {
    val cells = Seq(
      TableCell("h1", Array(0), Array(0), isHeader = true, None),
      TableCell("h2", Array(0), Array(1), isHeader = true, None),
      TableCell("v1", Array(1), Array(0), isHeader = false, None),
      TableCell("v2", Array(1), Array(1), isHeader = false, None))
    assert(Markdown.renderTable(cells) ==
      "| h1 | h2 |\n| --- | --- |\n| v1 | v2 |")
  }

  test("Standardizers: US state + datetime") {
    val d = Document.of("s1", properties = Map(
      "entity.location" -> "Atlanta, GA", "entity.date" -> "07/01/2023"))
    val s1 = Standardizers.usState("properties.entity.location")(d)
    assert(s1.prop("entity.location").contains("Atlanta, Georgia"))
    val s2 = Standardizers.dateTime("properties.entity.date")(d)
    assert(s2.prop("entity.date").contains("2023-07-01T00:00"))
    assert(s2.prop("day").contains("2023-07-01"))
  }

  test("Sketcher: identical texts identical shingles; distance bounds") {
    val a = Sketcher.shingles("the quick brown fox jumps over the lazy dog repeatedly")
    val b = Sketcher.shingles("the quick brown fox jumps over the lazy dog repeatedly")
    val c = Sketcher.shingles("completely different content with other words entirely here")
    assert(Sketcher.distance(a, b) == 0.0)
    assert(Sketcher.distance(a, c) > 0.5)
    val near = Sketcher.shingles("the quick brown fox jumps over the lazy dog repeated")
    assert(Sketcher.distance(a, near) < Sketcher.distance(a, c))
  }

  test("sketchDedup drops near-duplicates via LSH, keeps smallest id") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val docs = Seq(
      Document.of("a1", text = base),
      Document.of("a2", text = base),                       // exact dup
      Document.of("b1", text = "totally unrelated text about spark query engines and shuffles"))
    val out = DocSet.of(spark, docs).sketch().sketchDedup().takeAll()
    assert(out.map(_.docId).sorted == Seq("a1", "b1"))
  }

  test("sketchDedup verifies candidates: band collision alone does not drop") {
    // x1/x2 share band 0 (slots 0-3 identical) but differ in 12 of 16 slots:
    // a band-key collision proposes them, the distance verify (0.75 > 0.4)
    // must keep both. y2 is a true near-dup of x1 (15/16 slots, dist 0.0625).
    def doc(id: String, slots: Array[Long]) =
      Document.of(id).copy(shingles = Some(slots))
    val shared = Array(1L, 2L, 3L, 4L)
    val x1 = doc("x1", shared ++ (5L to 16L).toArray)
    val x2 = doc("x2", shared ++ (105L to 116L).toArray)
    val y2 = doc("y2", shared ++ (5L to 15L).toArray ++ Array(999L))
    val out = DocSet.of(spark, Seq(x1, x2, y2)).sketchDedup().takeAll()
    assert(out.map(_.docId).sorted == Seq("x1", "x2"))
  }

  test("sketchDedup keeps only the smallest docId of 50 text-less docs") {
    // text-less parents all sketch the empty string: one signature class
    val docs = (0 until 50).map(i => Document.of(f"p$i%02d"))
    val out = DocSet.of(spark, docs).sketch().sketchDedup().takeAll()
    assert(out.map(_.docId) == Seq("p00"))
  }

  test("sketchDedup keeps docs with no sketch or a sketch of the wrong length") {
    def doc(id: String, slots: Option[Array[Long]]) =
      Document.of(id).copy(shingles = slots)
    val full = (1L to 16L).toArray
    val docs = Seq(doc("a", Some(full)), doc("b", None), doc("c", None),
      doc("d", Some(full.take(8))), doc("e", Some(full.take(8))))
    val out = DocSet.of(spark, docs).sketchDedup().takeAll()
    assert(out.map(_.docId).sorted == Seq("a", "b", "c", "d", "e"))
  }

  test("sketchDedup at threshold 0.25 drops a 12-of-16 match, keeps 11-of-16") {
    def doc(id: String, slots: Seq[Long]) =
      Document.of(id).copy(shingles = Some(slots.toArray))
    val k1 = doc("k1", 1L to 16L)
    val k2 = doc("k2", (1L to 12L) ++ (901L to 904L)) // distance 0.25 to k1
    val k3 = doc("k3", (1L to 11L) ++ (801L to 805L)) // 0.3125 to k1 and k2
    val out = DocSet.of(spark, Seq(k1, k2, k3)).sketchDedup(threshold = 0.25).takeAll()
    assert(out.map(_.docId).sorted == Seq("k1", "k3"))
  }

  test("sampleByHash is deterministic and partition-independent") {
    val docs = (0 until 500).map(i => Document.of(i.toString, text = s"doc $i"))
    val ds1 = DocSet.of(spark, docs).sampleByHash(0.2)
    val ds2 = DocSet.wrap(DocSet.of(spark, docs).ds.repartition(7)).sampleByHash(0.2)
    val ids1 = ds1.takeAll().map(_.docId).toSet
    val ids2 = ds2.takeAll().map(_.docId).toSet
    assert(ids1 == ids2)
    assert(ids1.size > 50 && ids1.size < 200) // ~20% of 500, not all/none
    // a different salt gives a different (still deterministic) split
    val salted = DocSet.of(spark, docs).sampleByHash(0.2, salt = "other")
      .takeAll().map(_.docId).toSet
    assert(salted != ids1)
  }

  test("asofBackward: latest at-or-before match, inclusive ties, null when none") {
    val spark = SparkFixture.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val quotes = Seq((1L, 10L, 100.0), (1L, 20L, 101.0), (2L, 15L, 50.0))
      .toDF("k", "t", "px")
    val trades = Seq((1L, 9L), (1L, 10L), (1L, 25L), (2L, 14L), (3L, 5L))
      .toDF("k", "t")
    val out = AsofJoin.asofBackward(trades, quotes, "k", "t")
      .orderBy(col("k"), col("t"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toSeq
    assert(out == Seq(
      (1L, 9L, None),          // before any quote
      (1L, 10L, Some(100.0)),  // equal time is inclusive
      (1L, 25L, Some(101.0)),  // latest prior wins
      (2L, 14L, None),         // quote arrives later
      (3L, 5L, None)))         // key never quoted
  }

  test("reconstruct is the inverse of explode") {
    val els = Seq(
      Element.text(0, "Title", "Heading", properties = Map("k" -> "v")),
      Element.text(1, "NarrativeText", "Body text here"),
      Element.text(2, "NarrativeText", "More text"))
    val d = Document.of("r1", text = "full text", docType = "pdf",
      properties = Map("_lineage" -> "x", "source" -> "s"), elements = els)
    val lone = Document.of("r2", text = "doc with no elements")
    val out = DocSet.of(spark, Seq(d, lone)).explode().reconstruct().takeAll()
      .sortBy(_.docId)
    assert(out == Seq(d, lone).sortBy(_.docId))
  }

  test("reconstruct synthesizes a parent for orphan chunks") {
    val d = Document.of("o1", text = "t", elements = Seq(
      Element.text(0, "chunk", "a"), Element.text(1, "chunk", "b")))
    val orphans = DocSet.of(spark, Seq(d)).explode().filter(_.parentId.isDefined)
    val out = orphans.reconstruct().takeAll()
    assert(out.size == 1 && out.head.docId == "o1")
    assert(out.head.docType.contains("reconstructed"))
    assert(out.head.elements.map(_.text) == Seq("a", "b"))
  }

  test("UnigramLm: bits-of-surprise, hapax fraction, empty docs kept") {
    import org.apache.spark.sql.functions.col
    // corpus: "the" x4, "cat" x2, "sat" x1, "zyx" x1 -> N=8, bin lengths:
    // N=8 -> 4; the(4) -> 3; cat(2) -> 2; sat/zyx(1) -> 1
    val df = spark.createDataFrame(Seq(
      (1, "the the cat sat"),   // bits: the=1,the=1,cat=2,sat=3 -> mean 7/4
      (2, "the the cat zyx"),   // bits: 1,1,2,3 -> mean 7/4; zyx is hapax
      (3, "   "))).toDF("id", "text")
    val out = UnigramLm.score(df, "id", "text").collect()
    assert(out.length == 3)
    val r1 = out.find(_.getInt(0) == 1).get
    assert(r1.getLong(1) == 4 && r1.getDouble(2) == 1.75)
    assert(r1.getDouble(3) == 0.25) // "sat" appears once in the corpus
    val r2 = out.find(_.getInt(0) == 2).get
    assert(r2.getDouble(2) == 1.75 && r2.getDouble(3) == 0.25)
    val r3 = out.find(_.getInt(0) == 3).get
    assert(r3.isNullAt(1) && r3.isNullAt(2)) // whitespace-only doc kept, null score
  }

  test("UnigramLm plan: no full-text shuffle after tokenization") {
    import org.apache.spark.sql.functions.col
    val df = spark.createDataFrame(Seq((1, "a b"), (2, "b c"))).toDF("id", "text")
    val plan = UnigramLm.score(df, "id", "text").queryExecution.executedPlan.toString
    // the exchanges must carry (id, tok)/(tok) aggregation keys, never `text`
    assert(!plan.contains("hashpartitioning(text"))
  }

  test("BigramLm: conditional bits, novel fraction, word salad > fluent text") {
    import graft.operators.BigramLm
    // corpus bigrams: "the cat" x2, "cat sat" x2, "the dog" x1
    // ctx: c("the .")=3, c("cat .")=2 -> bits("the cat")=bin(3)-bin(2)=0,
    // bits("cat sat")=0, bits("the dog")=bin(3)-bin(1)=1
    val df = spark.createDataFrame(Seq(
      (1, "the cat sat"),          // bigrams: the cat, cat sat -> mean 0
      (2, "the cat sat"),
      (3, "the dog"),              // one novel bigram -> mean 1, novel 1.0
      (4, "single"),               // <2 tokens -> null score, row kept
      (5, ""))).toDF("id", "text")
    val out = BigramLm.score(df, "id", "text").collect()
    assert(out.length == 5)
    val r1 = out.find(_.getInt(0) == 1).get
    assert(r1.getLong(1) == 2 && r1.getDouble(2) == 0.0 && r1.getDouble(3) == 0.0)
    val r3 = out.find(_.getInt(0) == 3).get
    assert(r3.getLong(1) == 1 && r3.getDouble(2) == 1.0 && r3.getDouble(3) == 1.0)
    assert(out.find(_.getInt(0) == 4).get.isNullAt(1))
    assert(out.find(_.getInt(0) == 5).get.isNullAt(1))
    // the fluency signal unigram stats cannot see: a permuted corpus of the
    // same tokens scores strictly more surprising on average
    val fluent = (1 to 20).map(i => (i, "the quick brown fox jumps"))
    val salad = (21 to 40).map(i => (i, s"brown jumps fox quick the"))
    val mixed = spark.createDataFrame(fluent ++ salad).toDF("id", "text")
    val scores = BigramLm.score(mixed, "id", "text").collect()
      .map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(scores(1) == scores(2)) // deterministic
    // both shapes occur 20x so both are "known"; check novel_frac=0 and
    // equal-count bigrams give equal bits — then make salad genuinely rarer
    val rare = spark.createDataFrame(fluent ++ Seq((99, "brown jumps fox quick the")))
      .toDF("id", "text")
    val s2 = BigramLm.score(rare, "id", "text").collect()
      .map(r => r.getInt(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(s2(99)._1 > s2(1)._1, "rare word-order must score more bits")
    assert(s2(99)._2 == 1.0 && s2(1)._2 == 0.0)
  }

  test("CorpusStats: one-pass dataset card, exact sums and ratios") {
    import graft.operators.CorpusStats
    val df = spark.createDataFrame(Seq(
      ("web", "en", "one two three"),
      ("web", "en", "four"),
      ("web", "de", "fünf sechs"),
      ("books", "en", ""))).toDF("source", "lang", "text")
    val out = CorpusStats.bySource(df, "text", Seq("source", "lang"), minTokens = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(5), r.getDouble(6)))).toMap
    assert(out(("web", "en")) == ((2L, 4L, 2.0, 0.5))) // "four" is short
    assert(out(("web", "de")) == ((1L, 2L, 2.0, 0.0)))
    assert(out(("books", "en")) == ((1L, 0L, 0.0, 1.0))) // empty doc counts, 0 tokens
    // single aggregation pass: no joins, no windows in the plan
    val plan = CorpusStats.bySource(df, "text", Seq("source"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("windowspecdefinition"))
  }

  test("BigramLm plan: df via aggregate+join, no text on exchanges") {
    import graft.operators.BigramLm
    val df = spark.createDataFrame(Seq((1, "a b c"), (2, "b c d"))).toDF("id", "text")
    val plan = BigramLm.score(df, "id", "text").queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(text"))
    assert(!plan.contains("windowspecdefinition"), "no window funnels")
  }

  test("Packing.globalRank equals a single-partition row_number") {
    import org.apache.spark.sql.functions._
    val df = spark.createDataFrame(
      (1 to 97).map(i => (i.toLong, (i * 37 % 13).toDouble))).toDF("id", "s")
    val got = Packing.globalRank(df, Seq(col("s").desc), "id", "r")
      .select(col("id"), col("r")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, s) => (-s, id) }.zipWithIndex
      .map { case ((id, _), i) => id -> i.toLong }.toMap
    assert(got == want)
  }

  test("Fusion.rrf: fused scores, absent-from-one-ranking docs included") {
    import org.apache.spark.sql.functions.col
    val a = spark.createDataFrame(Seq((1L, 9.0), (2L, 5.0), (3L, 1.0))).toDF("id", "score")
    val b = spark.createDataFrame(Seq((2L, 0.9), (4L, 0.8))).toDF("id", "score")
    val out = Fusion.rrf(Seq(a, b), "id", "score", k = 60).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(math.abs(out(1L) - 1.0 / 61) < 1e-12)            // rank 1 in a only
    assert(math.abs(out(2L) - (1.0 / 62 + 1.0 / 61)) < 1e-12) // rank 2 in a, 1 in b
    assert(math.abs(out(4L) - 1.0 / 62) < 1e-12)            // rank 2 in b only
    // the doc present in both rankings must fuse highest here
    assert(out(2L) > out(1L) && out(1L) > out(4L) && out(4L) > out(3L))
  }

  test("Fusion.rrfBy: ranks are per query, queries never cross") {
    import org.apache.spark.sql.functions.col
    // query 10: doc 1 ranks 1 in arm a (9.0) and 2 in arm b; query 20:
    // doc 1 ranks 2 in arm a — per-query ranking must not mix the queries
    val a = spark.createDataFrame(Seq(
      (10L, 1L, 9.0), (10L, 2L, 5.0), (20L, 1L, 5.0), (20L, 3L, 9.0)))
      .toDF("q", "id", "score")
    val b = spark.createDataFrame(Seq((10L, 1L, 0.5), (10L, 4L, 0.9)))
      .toDF("q", "id", "score")
    val out = Fusion.rrfBy(Seq(a, b), "q", "id", "score", k = 60).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.keySet == Set((10L, 1L), (10L, 2L), (10L, 4L), (20L, 1L), (20L, 3L)))
    assert(math.abs(out((10L, 1L)) - (1.0 / 61 + 1.0 / 62)) < 1e-12)
    assert(math.abs(out((20L, 1L)) - 1.0 / 62) < 1e-12, "rank 2 within query 20")
    assert(math.abs(out((20L, 3L)) - 1.0 / 61) < 1e-12)
    assert(math.abs(out((10L, 4L)) - 1.0 / 61) < 1e-12, "rank 1 in arm b of query 10")
  }

  test("Calibration.percentileBy matches per-group row_number percent rank") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // groups of very different sizes, with ties in the score
    val rows = (1 to 211).map(i =>
      (i.toLong, if (i % 10 == 0) "rare" else "web", (i * 7 % 23).toDouble))
    val df = spark.createDataFrame(rows).toDF("id", "src", "s")
    val got = Calibration.percentileBy(df, "src", col("s"), "id")
      .select(col("id"), col("pctl")).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val w = Window.partitionBy(col("src")).orderBy(col("s"), col("id"))
    val want = df
      .withColumn("r0", row_number().over(w).cast("long") - 1)
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("src"))))
      .select(col("id"), when(col("n") > 1,
        round(col("r0").cast("double") / (col("n") - 1), 6)).otherwise(0.0).as("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want)
    // singleton group -> 0.0
    val single = spark.createDataFrame(Seq((1L, "only", 5.0))).toDF("id", "src", "s")
    assert(Calibration.percentileBy(single, "src", col("s"), "id")
      .select(col("pctl")).head.getDouble(0) == 0.0)
    // NULL-group rows form their own stratum instead of being dropped
    val withNull = spark.createDataFrame(Seq(
      (1L, Some("a"), 1.0), (2L, Some("a"), 2.0),
      (3L, None, 1.0), (4L, None, 3.0), (5L, None, 2.0))).toDF("id", "src", "s")
    val gotN = Calibration.percentileBy(withNull, "src", col("s"), "id")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(gotN.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(gotN(3L) == 0.0 && gotN(5L) == 0.5 && gotN(4L) == 1.0)
  }

  test("Triangles: each triangle once, self-loops and duplicates ignored") {
    import org.apache.spark.sql.functions.col
    // square 1-2-3-4 with diagonal 1-3 -> triangles (1,2,3) and (1,3,4);
    // edges arrive unordered/duplicated/self-looped
    val e = Seq((2L, 1L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L), (1L, 3L), (2L, 2L))
    val df = spark.createDataFrame(e).toDF("s", "d")
    val tri = Triangles.enumerate(df, "s", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tri == Set((1L, 2L, 3L), (1L, 3L, 4L)))
    assert(Triangles.count(df, "s", "d").head.getLong(0) == 2L)
  }

  test("lexicalDiversity: ttr, hapax fraction, mean word length, case folding") {
    val df = spark.createDataFrame(Seq(
      (1L, "the the the cat"),   // 4 tokens, 2 types, 1 hapax, 12 chars
      (2L, "a b c d"),           // all hapax
      (3L, "Hello hello world")) // case-folds to 3 tokens / 2 types
    ).toDF("doc_id", "text")
    val out = graft.operators.CorpusStats.lexicalDiversity(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(out(1L) == ((4L, 2L, 0.5, 0.5, 3.0)))
    assert(out(2L) == ((4L, 4L, 1.0, 1.0, 1.0)))
    assert(out(3L) == ((3L, 2L, 0.666667, 0.5, 5.0)))
    // partitioning-independence (keyed aggregates, no window)
    val again = graft.operators.CorpusStats
      .lexicalDiversity(df.repartition(5), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(again == out.view.mapValues(_._3).toMap)
  }

  test("clusteringCoefficient: known coefficients, degree-1 and no-triangle vertices") {
    import org.apache.spark.sql.functions.col
    // triangle 1-2-3 plus pendant 4 off vertex 3, plus edge 5-6:
    // cc(1)=cc(2)=1 (deg 2, 1 tri), cc(3)=2*1/(3*2)=1/3, cc(4)=0 (deg 1),
    // cc(5)=cc(6)=0 (deg 1, no triangles)
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (5L, 6L))
    val out = graft.operators.Triangles
      .clusteringCoefficient(spark.createDataFrame(e).toDF("s", "d"), "s", "d")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((2L, 1L, 1.0)) && out(2L) == ((2L, 1L, 1.0)))
    assert(out(3L) == ((3L, 1L, 0.333333)))
    assert(out(4L) == ((1L, 0L, 0.0)))
    assert(out(5L) == ((1L, 0L, 0.0)) && out(6L) == ((1L, 0L, 0.0)))
    assert(out.size == 6, "every vertex of the edge list appears")
  }

  test("Triangles: degree orientation keeps a star hub's wedge count at zero") {
    import org.apache.spark.sql.functions.col
    // adversarial hub: vertex 0 joined to 60 degree-1 leaves. Id-orientation
    // (0 < every leaf) would give the hub out-degree 60 = C(60,2) = 1770
    // wedges for zero triangles; degree orientation points every leaf AT the
    // hub, so Σ C(outdeg, 2) — the wedge-join expansion — must be 0.
    val star = (1L to 60L).map(i => (0L, i))
    val sdf = spark.createDataFrame(star).toDF("s", "d")
    def wedgeCount(edges: org.apache.spark.sql.DataFrame): Long =
      Triangles.oriented(edges, "s", "d")
        .groupBy(col("u")).count()
        .collect().map(r => { val k = r.getLong(1); k * (k - 1) / 2 }).sum
    assert(wedgeCount(sdf) == 0L)
    assert(Triangles.count(sdf, "s", "d").head.getLong(0) == 0L)
    // one leaf-leaf edge closes exactly one triangle and the wedge budget
    // stays O(1): edge (1,2) makes deg(1)=deg(2)=2, so 1→2 (tie by id),
    // 1→0 and 2→0 (degree), hub still points nowhere — exactly one wedge
    val closed = spark.createDataFrame(star :+ (1L, 2L)).toDF("s", "d")
    assert(wedgeCount(closed) == 1L)
    val tri = Triangles.enumerate(closed, "s", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tri == Set((0L, 1L, 2L)))
  }

  test("Basket: pair supports and rule confidences") {
    // baskets: {A,B,C}, {A,B}, {A,B}, {B,C} with a duplicate (1,A) row
    val rows = Seq((1L, "A"), (1L, "A"), (1L, "B"), (1L, "C"),
      (2L, "A"), (2L, "B"), (3L, "A"), (3L, "B"), (4L, "B"), (4L, "C"))
    val df = spark.createDataFrame(rows).toDF("b", "i")
    val pairs = Basket.frequentPairs(df, "b", "i", 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(pairs == Map(("A", "B") -> 3L, ("B", "C") -> 2L)) // (A,C) support 1 cut
    val rules = Basket.rules(df, "b", "i", 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(rules(("A", "B")) == 1.0)      // every A-basket has B
    assert(rules(("B", "A")) == 0.75)     // 3 of 4 B-baskets have A
    assert(rules(("C", "B")) == 1.0 && rules(("B", "C")) == 0.5)
  }

  test("Sampling.byWeight: weight-proportional, partitioning-independent, clamped") {
    import org.apache.spark.sql.functions._
    val df = spark.createDataFrame((1 to 400).map(i =>
      (i.toLong, if (i % 2 == 0) 1.0 else 0.0))).toDF("id", "w")
    val kept = Sampling.byWeight(df, "id", col("w")).collect().map(_.getLong(0)).toSet
    assert(kept == (2 to 400 by 2).map(_.toLong).toSet) // w=1 always, w=0 never
    // out-of-range weights clamp instead of corrupting the threshold
    val wild = spark.createDataFrame(Seq((1L, 99.0), (2L, -5.0))).toDF("id", "w")
    assert(Sampling.byWeight(wild, "id", col("w")).collect().map(_.getLong(0)).toSeq == Seq(1L))
    // selection is a pure function of (key, salt): repartitioning changes nothing
    val shuffled = Sampling.byWeight(df.repartition(7), "id", col("w"))
      .collect().map(_.getLong(0)).toSet
    assert(shuffled == kept)
  }

  test("SnapshotDiff: added/removed/changed, unchanged omitted, nulls distinct") {
    import org.apache.spark.sql.functions.col
    val a = spark.createDataFrame(Seq(
      (1L, Some("same")), (2L, Some("old")), (3L, Some("gone")),
      (4L, None: Option[String]), (5L, Some("")))).toDF("id", "t")
    val b = spark.createDataFrame(Seq(
      (1L, Some("same")), (2L, Some("new")), (6L, Some("fresh")),
      (4L, Some("")), (5L, None: Option[String]))).toDF("id", "t")
    val out = SnapshotDiff.diff(a, b, "id", Seq("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(2L -> "changed", 3L -> "removed", 6L -> "added",
      4L -> "changed", 5L -> "changed")) // null vs "" is a change, both ways
  }

  test("Stats.pearson: exact moments give +1/-1/undefined correlations") {
    import org.apache.spark.sql.functions.col
    val up = spark.createDataFrame((1 to 50).map(i => (i, 3 * i + 7))).toDF("x", "y")
    assert(Stats.pearson(up, col("x"), col("y")).head.getDouble(1) == 1.0)
    val down = spark.createDataFrame((1 to 50).map(i => (i, -2 * i))).toDF("x", "y")
    assert(Stats.pearson(down, col("x"), col("y")).head.getDouble(1) == -1.0)
    val const = spark.createDataFrame((1 to 50).map(i => (i, 9))).toDF("x", "y")
    assert(Stats.pearson(const, col("x"), col("y")).head.isNullAt(1)) // zero variance
  }

  test("Stats.pearson ignores rows with a null side; z-test rejects non-binary groups") {
    import org.apache.spark.sql.functions.col
    val withNull = spark.createDataFrame(Seq(
      (Some(1), Some(1)), (Some(100), None: Option[Int]))).toDF("x", "y")
    val r = Stats.pearson(withNull, col("x"), col("y")).head
    assert(r.getLong(0) == 1 && r.isNullAt(1)) // one valid pair, zero variance
    val three = spark.createDataFrame(Seq((1L, "a"), (2L, "b"), (3L, "c"))).toDF("u", "g")
    val e = intercept[IllegalArgumentException](
      Stats.twoProportionZ(three, col("u"), col("g"), col("u") > 1).collect())
    assert(e.getMessage.contains("exactly 2"))
  }

  test("SnapshotDiff classifies null-id rows by join-side presence") {
    import org.apache.spark.sql.functions.col
    val a = spark.createDataFrame(Seq((Some(1L), "x"), (None: Option[Long], "nully")))
      .toDF("id", "t")
    val b = spark.createDataFrame(Seq((Some(1L), "x"))).toDF("id", "t")
    val out = SnapshotDiff.diff(a, b, "id", Seq("t")).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getString(1)).toMap
    assert(out == Map(-1L -> "removed")) // not "added"; row 1 unchanged/omitted
  }

  test("Stats.twoProportionZ: counts, rates, and z sign") {
    import org.apache.spark.sql.functions.col
    // group 0: users 0,2,4,6 (4 users, 3 convert); group 1: 1,3,5 (3 users, 0 convert)
    val ev = Seq((0L, "buy"), (0L, "view"), (2L, "buy"), (4L, "buy"), (6L, "view"),
      (1L, "view"), (3L, "view"), (5L, "view"))
    val df = spark.createDataFrame(ev).toDF("u", "e")
    val r = Stats.twoProportionZ(df, col("u"), col("u") % 2, col("e") === "buy").head
    assert(r.getLong(1) == 4 && r.getLong(2) == 3)  // n_a, x_a
    assert(r.getLong(4) == 3 && r.getLong(5) == 0)  // n_b, x_b
    assert(r.getDouble(6) == 0.75 && r.getDouble(7) == 0.0)
    assert(r.getDouble(8) > 0) // group a converts more -> positive z
  }

  test("PageRank: integer fixed-point scores match hand computation") {
    import org.apache.spark.sql.functions.col
    val e = spark.createDataFrame(Seq(
      ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"))).toDF("s", "d")
    val got = PageRank.pageRank(e, "s", "d", iterations = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // round 1: in(a)=1e6, in(b)=5e5, in(c)=1.5e6 -> a=1000000 b=575000 c=1425000
    // round 2: in(a)=1425000, in(b)=500000, in(c)=1075000
    assert(got == Map("a" -> 1361250L, "b" -> 575000L, "c" -> 1063750L))
    // determinism: a second run is bit-identical (integer math, no float sums)
    val again = PageRank.pageRank(e, "s", "d", iterations = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("personalized PageRank: mass flows from seeds only, off-component stays 0") {
    import org.apache.spark.sql.functions.col
    // chain a->b->c plus a disjoint pair x->y; seed {a}
    val e = spark.createDataFrame(Seq(
      ("a", "b"), ("b", "c"), ("x", "y"))).toDF("s", "d")
    val got = PageRank.personalized(e, "s", "d", seeds = Seq("a"), iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // seed keeps the full teleport share; downstream decays; the disjoint
    // component never receives anything
    assert(got("a") == 150000L) // (15e6 + 85*0) / 100 every round
    assert(got("b") > got("c") && got("c") > 0L)
    assert(got("x") == 0L && got("y") == 0L)
    // uniform pageRank on the same graph gives x/y nonzero — the variants differ
    val uni = PageRank.pageRank(e, "s", "d", iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uni("x") > 0L && uni("y") > 0L)
  }

  test("Bpe: merges learn frequent pairs; encoding applies them rank-greedily") {
    // classic toy corpus: "low" x5, "lower" x2, "newest" x6, "widest" x3
    val hist = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val merges = Bpe.trainFromHistogram(hist, numMerges = 4)
    // most frequent pair is (e,s) with count 9, then (es,t) 9, then (l,o) 7...
    assert(merges.take(2) == Seq(("e", "s"), ("es", "t")))
    assert(merges.contains(("l", "o")))
    val ranks = BpeEncodeExpr.buildRanks(merges.toArray)
    assert(Bpe.encodeWord("newest", ranks).mkString("|") == "n|e|w|est")
    assert(Bpe.encodeWord("lowest", ranks).mkString("|").contains("est"))
    // concatenation always reconstructs the word
    for (w <- Seq("low", "lower", "newest", "widest", "unseen"))
      assert(Bpe.encodeWord(w, ranks).mkString == w)
  }

  test("Bpe end-to-end: distributed histogram train + codegen encode column") {
    import org.apache.spark.sql.functions._
    val docs = (1 to 40).map(i => (i.toLong,
      if (i % 2 == 0) "the hunting of the snark" else "the barrister dreams the dream"))
    val df = spark.createDataFrame(docs).toDF("id", "text")
    val merges = Bpe.train(df, "text", numMerges = 12)
    assert(merges.nonEmpty && merges.size <= 12)
    val out = df.select(col("id"), Bpe.encode(col("text"), merges).as("toks"),
        Bpe.tokenCount(col("text"), merges).as("n")).collect()
    out.foreach { r =>
      val toks = r.getSeq[String](1)
      assert(toks.nonEmpty && r.getInt(2) == toks.size)
    }
    // "the" occurs in every doc; 12 merges are plenty to fuse it whole
    val toks0 = df.select(Bpe.encode(lit("the the"), merges)).head.getSeq[String](0)
    assert(toks0 == Seq("the", "the"))
    // fewer learned-subword tokens than characters, more than words
    val n = df.select(Bpe.tokenCount(col("text"), merges)).collect().map(_.getInt(0))
    assert(n.forall(_ >= 4))
  }

  test("Fusion.mmr displaces a redundant high-relevance result") {
    import org.apache.spark.sql.functions.col
    // b is a near-clone of a (cosine ~1); c is orthogonal with lower rel.
    // Pure relevance ranks (a, b, c); MMR at lambda=0.5 must pick (a, c, b).
    val rows = Seq(
      ("a", Array(1.0, 0.0, 0.0), 1.00),
      ("b", Array(0.999, 0.04, 0.0), 0.95),
      ("c", Array(0.0, 1.0, 0.0), 0.60))
    val df = spark.createDataFrame(rows).toDF("id", "vec", "rel")
    val out = Fusion.mmr(df, "id", "vec", "rel", k = 3, lambda = 0.5)
      .orderBy(col("mmr_rank")).collect().map(_.getString(0)).toSeq
    assert(out == Seq("a", "c", "b"))
    // lambda = 1.0 degenerates to pure relevance order
    val pure = Fusion.mmr(df, "id", "vec", "rel", k = 3, lambda = 1.0)
      .orderBy(col("mmr_rank")).collect().map(_.getString(0)).toSeq
    assert(pure == Seq("a", "b", "c"))
    // the caller's id type is preserved in the output schema
    val longIds = spark.createDataFrame(rows.zipWithIndex.map { case ((_, v, r), i) =>
      (i.toLong, v, r) }).toDF("id", "vec", "rel")
    val outL = Fusion.mmr(longIds, "id", "vec", "rel", k = 2)
    assert(outL.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(outL.count() == 2)
  }

  test("EventAnalytics.funnel: ordered stages, strict after, window bound") {
    // user a: view@10 click@20 buy@30            -> full funnel
    // user b: click@5 view@10 click@8 buy@50     -> click BEFORE view only: stops at view
    // user c: view@10 click@20 buy@15            -> buy before click: stops at click
    // user d: view@10 click@200 (outside window) -> stops at view
    val W = 100L
    val ev = Seq(
      ("a", "view", 10L), ("a", "click", 20L), ("a", "buy", 30L),
      ("b", "click", 5L), ("b", "view", 10L), ("b", "click", 8L), ("b", "buy", 50L),
      ("c", "view", 10L), ("c", "click", 20L), ("c", "buy", 15L),
      ("d", "view", 10L), ("d", "click", 200L))
    val df = spark.createDataFrame(ev).toDF("u", "e", "t")
    val out = EventAnalytics.funnel(df, "u", "e", "t", Seq("view", "click", "buy"), W)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(("view", 4L, 1.0), ("click", 2L, 0.5), ("buy", 1L, 0.25)))
  }

  test("EventAnalytics.retention: cohort x offset distinct-user counts") {
    // bucket = t div 10. a first in bucket 0, active 0,1,2; b first in 1, active 1,2;
    // c first in 0, active 0 twice (counted once)
    val ev = Seq(("a", 1L), ("a", 12L), ("a", 25L), ("b", 11L), ("b", 27L),
      ("c", 3L), ("c", 7L))
    val df = spark.createDataFrame(ev).toDF("u", "t")
    val out = EventAnalytics.retention(df, "u", "t", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, 0L, 2L), (0L, 1L, 1L), (0L, 2L, 1L), (1L, 0L, 1L), (1L, 1L, 1L)))
  }

  test("HtmlPartitioner extracts typed elements; explode round-trip") {
    val html = """<html><head><title>My Doc</title></head><body>
      <h1>Intro</h1><p>First para.</p><li>item one</li></body></html>"""
    val d = Document.of("h1", text = html)
    val out = new HtmlPartitioner().partition(d)
    assert(out.elements.map(_.elementType) ==
      Seq("Title", "Section-header", "NarrativeText", "List-item"))
    assert(out.elements(2).text == "First para.")
    val exploded = DocSet.of(spark, Seq(out)).explode()
    assert(exploded.count() == 5)
  }

  test("Boilerplate: link-dense nav dies, prose survives, NEAR blocks smooth") {
    val prose = "the cat sat on the mat and it was a good day for all of the animals to be here"
    val html =
      """<html><body>
        |<p><a href="/">Home</a> <a href="/a">News</a> <a href="/b">Sports</a></p>
        |<h2>Story</h2>
        |<p>""".stripMargin + prose + """</p>
        |<p>Short middle note here</p>
        |<p>""".stripMargin + prose + """</p>
        |<p><a href="/t">Terms</a> <a href="/p">Privacy</a></p>
        |</body></html>""".stripMargin
    val doc = new HtmlPartitioner(trackLinks = true).partition(
      Document.of("page.html", text = html))
    assert(doc.elements.head.prop("link_density").exists(_.toDouble > 0.9),
      s"nav block must be link-dense: ${doc.elements.head.properties}")
    val classified = Boilerplate.classify(doc)
    val byText = classified.elements.map(e =>
      e.text.take(12) -> e.prop("boilerplate").get).toMap
    assert(byText("Home News Sp") == "true", "nav is boilerplate")
    assert(byText("the cat sat ") == "false", "prose is content")
    assert(byText("Short middle") == "false",
      "NEAR block between content smooths to content")
    assert(byText("Terms Privac") == "true", "footer links are boilerplate")
    assert(byText("Story") == "false", "heading between nav and prose follows context")
    val dropped = Boilerplate.drop(doc)
    assert(dropped.elements.forall(_.prop("boilerplate").contains("false")))
    assert(dropped.elements.map(_.elementIndex) == dropped.elements.indices)
    assert(dropped.elements.count(_.text.startsWith("the cat")) == 2)
  }

  test("Dsir: importance weights steer selection toward the target distribution") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // target: 'quality prose' vocabulary; source: that plus spammy repeats —
    // docs matching the target vocabulary must outscore the spam
    val target = (1 to 30).map(i => s"careful prose about science topic $i").toDF("text")
    val source = target.unionAll(
      (1 to 30).map(i => s"buy now click here offer $i").toDF("text"))
    val table = Dsir.importanceTable(target, source, "text", numBuckets = 1 << 10)
    assert(table.length == 1 << 10)
    val mixed = Seq(
      (1L, "careful prose about science topic 99"),
      (2L, "buy now click here offer 99")).toDF("id", "text")
    val scored = Dsir.scoreMicros(mixed, "text", table)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("dsir_micros")).toMap
    assert(scored(1L) > scored(2L),
      s"target-like doc must outscore spam: $scored")
    // scoring matches the hand model over the literalized ngram weights
    val nw = Dsir.ngramWeights(mixed, "text", table).toMap
    val hand = Dsir.ngrams("careful prose about science topic 99".split(" ").toSeq)
      .map(ng => nw.getOrElse(ng, 0L)).sum
    assert(hand == scored(1L))
    // deterministic top-k: target-like doc selected first
    val top = Dsir.selectTopK(Dsir.scoreMicros(mixed, "text", table), "id", 1)
      .select("id").head().getLong(0)
    assert(top == 1L)
  }

  test("Checks.benfordDigits: exact counts, literal table, zero-fill digits") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // values 10..19 (digit 1, ten times), 25 (digit 2), 0 excluded
    val df = ((10L to 19L) ++ Seq(25L, 0L)).toDF("v")
    val out = Checks.benfordDigits(df, col("v"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.size == 9, "all 9 digits present")
    assert(out(1)._1 == 10L && out(2)._1 == 1L && out(9)._1 == 0L)
    // expected micros: log10(2) = 301030 micro for digit 1
    assert(out(1)._2 == 301030L, s"got ${out(1)._2}")
    // dev_num for digit 1: |10*1e6 - 11*301030| = 6688670
    assert(out(1)._3 == math.abs(10L * 1000000L - 11L * 301030L))
    // dev_num for unobserved digit 9: 11 * expected
    assert(out(9)._3 == 11L * out(9)._2)
  }

  test("Triangles.kTruss: peels the pendant triangle, keeps the clique") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // K4 on {1,2,3,4} plus triangle {3,4,5}: edges (3,5),(4,5) close only
    // one triangle (support 1 < k-2 = 2) and peel off; the K4 remains
    // with every edge at support 2
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (3L, 5L), (4L, 5L)).toDF("s", "d")
    val out = Triangles.kTruss(edges, "s", "d", k = 4, rounds = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L)), s"got $out")
  }

  test("Linkage: milli-bit weights, decisions, m/u estimation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // hand math: log2(.9/.1) = 3.169925 -> 3170; log2(.1/.9) = -3170
    assert(Linkage.milliBits(0.9, 0.1) == ((3170L, -3170L)))
    val pairs = Seq((1L, 1L, true, true), (2L, 3L, true, false),
      (4L, 5L, false, false)).toDF("l", "r", "a1", "a2")
    val fields = Seq(Linkage.Field("f1", col("a1"), 0.9, 0.1),
      Linkage.Field("f2", col("a2"), 0.9, 0.1))
    val out = Linkage.fellegiSunter(pairs, fields, upperMb = 6000L, lowerMb = -6000L)
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getString(5))).toMap
    assert(out(1L) == ((6340L, "match")))
    assert(out(2L) == ((0L, "possible")))
    assert(out(4L) == ((-6340L, "nonmatch")))
    // estimation: 2 labeled matches (both agree), 2 non-matches (1 agrees)
    val labeled = Seq((true, true), (true, true), (false, true), (false, false))
      .toDF("lbl", "a")
    val mu = Linkage.estimateMU(labeled, col("lbl"), Seq("a" -> col("a")))
    // Laplace: m = (2+1)/(2+2) = 0.75, u = (1+1)/(2+2) = 0.5
    assert(mu("a") == ((0.75, 0.5)), s"got $mu")
  }

  test("AsofJoin.asofForward: next match, tolerance null-out, min-payload tie") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val left = Seq((1L, 1L, 100L), (2L, 1L, 300L), (3L, 2L, 100L))
      .toDF("event_id", "k", "t")
    val right = Seq((1L, 100L, 10L), (1L, 100L, 11L), (1L, 150L, 12L),
      (2L, 900L, 20L)).toDF("k", "t", "rid")
    val out = AsofJoin.asofForward(left, right, "k", "t",
        tolerance = Some(100L))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long]))).toMap
    // event 1: equal-time (t=100) rights ARE eligible (>= inclusive);
    // min payload (100, 10) wins the tie
    assert(out(1L) == ((Some(100L), Some(10L))), s"got ${out(1L)}")
    // event 2 at t=300: no following right for k=1 -> nulls
    assert(out(2L) == ((None, None)))
    // event 3: next right at 900 is 800 > tolerance 100 -> nulled out
    assert(out(3L) == ((None, None)), "match beyond tolerance must null out")
    // backward with tolerance: event at 300 matches 150 (dist 150 > 100 -> null)
    val back = AsofJoin.asofBackward(left, right, "k", "t",
        tolerance = Some(100L))
      .collect().map(r => r.getLong(0) ->
        Option(r.get(4)).map(_.asInstanceOf[Long])).toMap
    assert(back(2L) == None, "backward match beyond tolerance must null out")
    assert(back(1L) == Some(11L), "backward equal-time max-payload tie")
  }

  test("Stats.olsBy: exact slope/intercept/r2; degenerate x nulls") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(("a", 0L, 1L), ("a", 1L, 3L), ("a", 2L, 5L),
      ("b", 7L, 9L), ("b", 7L, 11L)).toDF("g", "x", "y")
    val out = Stats.olsBy(df, col("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> (r.getLong(1),
        Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toMap
    // a: perfect line y = 1 + 2x -> slope 2, intercept 1, r2 1
    assert(out("a") == ((3L, Some(2.0), Some(1.0), Some(1.0))), s"got ${out("a")}")
    // b: constant x -> vx = 0 -> all null
    assert(out("b") == ((2L, None, None, None)), s"got ${out("b")}")
  }

  test("Stats.chiSquare: known 2x2 statistic, exact counts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // O = [[10,20],[20,10]]: E = 15 everywhere, chi2 = 4*(25/15) = 6.666667
    val rows = Seq.fill(10)(("r1", "c1")) ++ Seq.fill(20)(("r1", "c2")) ++
      Seq.fill(20)(("r2", "c1")) ++ Seq.fill(10)(("r2", "c2"))
    val out = Stats.chiSquare(rows.toDF("r", "c"), col("r"), col("c")).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((60L, 2L, 2L, 1L)), s"got $r")
    assert(r.getDouble(4) == 6.666667, s"chi2: ${r.getDouble(4)}")
  }

  test("IntervalJoin.overlap: exact closed-interval semantics, multiplicity-free") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // width 10 so interval [0, 35] spans 4 buckets: the pair with [30, 40]
    // shares buckets 3 — emitted once despite multi-bucket overlap
    val l = Seq((1L, 10L, 0L, 35L), (1L, 11L, 50L, 55L), (2L, 20L, 0L, 35L))
      .toDF("k", "lid", "ls", "le")
    val r = Seq((1L, 100L, 30L, 40L), (1L, 101L, 35L, 36L), (1L, 102L, 36L, 49L),
      (1L, 103L, 55L, 60L), (2L, 200L, 36L, 40L))
      .toDF("k", "rid", "rs", "re")
    val out = IntervalJoin.overlap(l, r, "ls", "le", "rs", "re", width = 10,
        keys = Seq("k"))
      .select("k", "lid", "rid").as[(Long, Long, Long)].collect().toSet
    // lid 10 overlaps 100 (30<=35) and 101 (touching endpoint 35 — closed)
    // but NOT 102 (36 > 35); lid 11 overlaps 103 (touching at 55); key 2
    // isolates its own pair set (no overlap: 36 > 35)
    assert(out == Set((1L, 10L, 100L), (1L, 10L, 101L), (1L, 11L, 103L)),
      s"got $out")
    // multiplicity-free under heavy bucket sharing: width 1 makes the
    // first pair share 6 buckets; still exactly one output row
    val narrow = IntervalJoin.overlap(l, r, "ls", "le", "rs", "re", width = 1,
      keys = Seq("k")).select("k", "lid", "rid").as[(Long, Long, Long)].collect()
    assert(narrow.length == narrow.toSet.size && narrow.toSet == out,
      s"bucket width must not change the result: ${narrow.toSeq}")
  }

  test("Privacy.kAnonymize: first qualifying ladder level; coarsest suppresses") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // fine level: values 0..9 (singletons, fails k=3); mid level: value%5
    // (pairs, fails); coarse: value%2 (5 each, passes) -> coarse chosen
    val df = (0 until 10).map(i => (i.toLong, "p")).toDF("v", "p")
    val ladder = Seq(
      "fine" -> col("v").cast("string"),
      "mid" -> (col("v") % 5).cast("string"),
      "coarse" -> (col("v") % 2).cast("string"))
    val out = Privacy.kAnonymize(df, ladder, Seq(col("p")), k = 3L)
    assert(out.select("gen_level").distinct().as[String].collect().toSeq == Seq("coarse"))
    assert(out.count() == 10)
    // k=6: even coarse (5 per group) fails -> suppression drops ALL rows
    // of sub-k groups; a 12-row skewed df keeps only the big group
    val skew = ((0 until 9).map(i => (i.toLong * 2, "p")) ++
      Seq((1L, "p"), (3L, "p"), (5L, "p"))).toDF("v", "p")
    val sup = Privacy.kAnonymize(skew, ladder, Seq(col("p")), k = 6L)
    assert(sup.select("gen_level").distinct().as[String].collect().toSeq == Seq("coarse"))
    assert(sup.count() == 9, "odd-v group (3 rows < k) must be suppressed")
    assert(sup.select("qi").distinct().as[String].collect().toSeq == Seq("0"))
    // computed-EXPRESSION otherQi must survive the suppression path (it
    // cannot be re-selected off the aggregate — regression for the
    // ScaleProbe-found resolution failure)
    val supE = Privacy.kAnonymize(skew, ladder, Seq(col("v") % 2 === 0), k = 6L)
    assert(supE.count() == 9, "expression otherQi suppression")
    assert(!supE.columns.exists(_.startsWith("_oq")), "helper columns must drop")
  }

  test("Privacy.kAnonymizeMulti: height-lex lattice walk; mixed node wins; suppression") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // lattice order is the contract both engines replay
    assert(Privacy.lattice(Seq(3, 3)) == Seq(
      Seq(0, 0), Seq(0, 1), Seq(1, 0), Seq(0, 2), Seq(1, 1), Seq(2, 0),
      Seq(1, 2), Seq(2, 1), Seq(2, 2)))
    // 2 INDEPENDENT QIs: a = i%8 with ladders [a, a%2, const]; b = i/8
    // with [b, const]. k=5 walks: (0,0) a x b groups of 1 fail; (0,1)
    // a x const groups of 2 fail; (1,0) a%2 x b groups of 4 fail; (1,1)
    // a%2 x const groups of 8 PASS -> winner (1,1), height 2
    val df = (0 until 16).map(i => (i.toLong % 8, i.toLong / 8)).toDF("a", "b")
    val la = Seq("a" -> col("a").cast("string"),
      "a2" -> (col("a") % 2).cast("string"),
      "aAll" -> lit("*"))
    val lb = Seq("b" -> col("b").cast("string"), "bAll" -> lit("*"))
    val out = Privacy.kAnonymizeMulti(df, Seq(la, lb), Nil, k = 5L)
    assert(out.select("gen_level").distinct().as[String].collect().toSeq ==
      Seq("a2|bAll"), "first qualifying node in height-lex order")
    assert(out.count() == 16)
    // all-coarsest failure: k above the total row count -> every row
    // suppressed except... nothing reaches k, all suppressed
    val sup = Privacy.kAnonymizeMulti(df, Seq(la, lb), Nil, k = 17L)
    assert(sup.count() == 0, "sub-k all-coarsest groups suppress")
    // null QI values in the suppression path: nulls form a group and are
    // RELEASED when they reach k (null-safe join, round-13 advice rule)
    val dfn = (Seq.fill(3)(Option.empty[String]) ++ Seq(Some("x")))
      .map(v => (v, 1L)).toDF("q", "one")
    val ln = Seq("lvl" -> col("q"))
    val outN = Privacy.kAnonymizeMulti(dfn, Seq(ln), Seq(col("one")), k = 3L)
    assert(outN.count() == 3 && outN.where(col("qi0").isNull).count() == 3)
  }

  test("Privacy lattice walk: one corpus scan regardless of visited nodes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // every row evaluation of the corpus's QI column bumps the accumulator
    // (nondeterministic UDF so the projection is never collapsed/pruned);
    // the r13-advice fix: the walk aggregates the corpus ONCE into the
    // frequency frame, so visiting 4 lattice nodes before (1,1) qualifies
    // still reads the corpus exactly twice — freq build + the release pass
    val acc = spark.sparkContext.longAccumulator("privacy_rows_touched")
    val touch = udf { (v: Long) => acc.add(1L); v }.asNondeterministic()
    val df = (0 until 16).map(i => (i.toLong % 8, i.toLong / 8)).toDF("a0", "b")
      .withColumn("a", touch(col("a0"))).drop("a0")
    val la = Seq("a" -> col("a").cast("string"),
      "a2" -> (col("a") % 2).cast("string"),
      "aAll" -> lit("*"))
    val lb = Seq("b" -> col("b").cast("string"), "bAll" -> lit("*"))
    acc.reset()
    val out = Privacy.kAnonymizeMulti(df, Seq(la, lb), Nil, k = 5L)
    assert(out.select("qi0").collect().length == 16)
    assert(acc.value == 2L * 16,
      s"expected 2 corpus passes (freq + release), got ${acc.value / 16.0}")
  }

  test("Privacy.lDiversify: homogeneous groups suppress; null sensitive counts as a class") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // group "a": statuses {x, y, z} (diverse); group "b": all x
    // (homogeneity attack target — suppressed at l=3); group "c": {x, y,
    // NULL} — the null IS an inferable value, so it counts as a third class
    val df = Seq(
      ("a", Some("x")), ("a", Some("y")), ("a", Some("z")),
      ("b", Some("x")), ("b", Some("x")), ("b", Some("x")),
      ("c", Some("x")), ("c", Some("y")), ("c", None)
    ).toDF("g", "s")
    val out = Privacy.lDiversify(df, Seq(col("g")), col("s"), l = 3L)
    val kept = out.select("g").as[String].collect().toSeq.sorted
    assert(kept == Seq("a", "a", "a", "c", "c", "c"), s"got $kept")
    // null QI group releases when diverse (null-safe join rule)
    val dfn = Seq((Option.empty[String], "x"), (None, "y"), (None, "z"))
      .toDF("g", "s")
    assert(Privacy.lDiversify(dfn, Seq(col("g")), col("s"), 3L).count() == 3)
  }

  test("Hll.approxDistinct: integer HLL matches a driver-side replay; alpha pinned") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Hll
    assert(Hll.alphaPpm(256) == 718272L)
    val rows = (0 until 3000).map(i => ("g" + (i % 3), (i * 7919 % 997).toString))
    val got = Hll.approxDistinct(rows.toDF("g", "v"), Seq(col("g")), col("v"), p = 8)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // driver replay of the exact integer construction
    def poly(s: String) = s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      val regs = new Array[Long](256)
      rs.foreach { case (_, v) =>
        val h = poly(v + ":hll:" + v)
        val b = (h & 255L).toInt
        val rest = h >>> 8
        val rho = if (rest == 0) 23L else 23L - (64 - java.lang.Long.numberOfLeadingZeros(rest))
        if (rho > regs(b)) regs(b) = rho
      }
      val present = regs.count(_ > 0)
      val harm = regs.filter(_ > 0).map(mr => 8388608L >>> mr).sum +
        (256L - present) * 8388608L
      val est = 394874207952961536L / (1000000L * harm)
      g -> (256L - present, harm, est)
    }
    assert(got == want, s"got $got\nwant $want")
    // statistical sanity: ~997 distinct per group, sigma ~ 6.5% at m=256
    got.values.foreach { case (_, _, est) =>
      assert(est > 700 && est < 1300, s"estimate $est implausible for 997 distinct")
    }
  }

  test("PropertyAttribution: exact first-element wins; fuzzy finds typo'd spans; absent stays bare") {
    import graft.operators.PropertyAttribution
    import graft.model.{Document, Element}
    // exact: both elements contain the value — first in element order wins
    val els = Seq(
      Element.text(0, "chunk", "the solar panel output fell"),
      Element.text(1, "chunk", "another solar panel note"))
    val ex = PropertyAttribution.attributeValue(els, "solar panel").get
    assert(ex.elementIndex == 0 && ex.start == 4 && ex.end == 15)
    assert(ex.scoreMilli == 1000L && ex.snippet == "solar panel")
    // fuzzy: the value has a typo, no exact match anywhere; the best
    // window must land on the right element with a high (but sub-1000)
    // score and a span overlapping the true text
    val fz = PropertyAttribution.attributeValue(els, "solar pannel").get
    assert(fz.elementIndex == 0 || fz.elementIndex == 1)
    assert(fz.scoreMilli > 850L && fz.scoreMilli < 1000L, s"score ${fz.scoreMilli}")
    assert(fz.snippet.contains("panel"), s"snippet '${fz.snippet}'")
    // zero common characters: score 0 -> unattributed (reference :108)
    assert(PropertyAttribution.attributeValue(els, "ZZZZQQQQ").isEmpty)
    // LCS ratio pins
    assert(PropertyAttribution.lcsRatioMilli("abc", "abc") == 1000L)
    assert(PropertyAttribution.lcsRatioMilli("abc", "xyz") == 0L)
    assert(PropertyAttribution.lcsRatioMilli("abcd", "abxd") == 750L)
    // document-level: props attach only for present fields with evidence
    val d = Document.of("d1", properties = Map("who" -> "solar panel", "none" -> "ZZZZ"))
      .copy(elements = els)
    val out = PropertyAttribution.attribute(d, Seq("who", "none", "missing"))
    assert(out.prop("who._attr_element").contains("0"))
    assert(out.prop("who._attr_start").contains("4"))
    assert(out.prop("who._attr_score_milli").contains("1000"))
    assert(out.prop("who._attr_snippet").contains("solar panel"))
    assert(out.prop("none._attr_element").isEmpty, "zero-score value stays bare")
    assert(out.prop("missing._attr_element").isEmpty)
  }

  test("Hll.correctedEstimate: linear counting below the 2.5m crossover, raw above") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Hll
    val m = 256L
    // tiny true cardinalities: the raw estimator is biased high; linear
    // counting m*ln(m/V) must land within 15% of the truth
    for (n <- Seq(5, 40, 150)) {
      val rows = (0 until 2000).map(i => ("g", (i % n).toString))
      val Array(r) = Hll.approxDistinct(rows.toDF("g", "v"), Seq(col("g")), col("v"), p = 8)
        .collect()
      val (vZero, est) = (r.getLong(1), r.getLong(3))
      val corrected = Hll.correctedEstimate(est, vZero, p = 8)
      assert(2 * est <= 5 * m && vZero > 0, s"n=$n should sit in the small-range zone")
      assert(math.abs(corrected - n) <= math.max(2, n * 15 / 100),
        s"n=$n corrected=$corrected raw=$est")
    }
    // above the crossover the raw estimate passes through untouched
    assert(Hll.correctedEstimate(2000L, 3L, p = 8) == 2000L)
    // zero empty registers: linear counting is undefined -> raw
    assert(Hll.correctedEstimate(100L, 0L, p = 8) == 100L)
    // exact crossover arithmetic: 2*est <= 5*m uses integers, no doubles
    assert(Hll.correctedEstimate(640L, 1L, p = 8) ==
      math.round(256 * math.log(256.0)))
    assert(Hll.correctedEstimate(641L, 1L, p = 8) == 641L)
  }

  test("Privacy.tClosenessReport: exact integer EMD against hand computation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // global domain {1,2,3} with counts (3,1,1), N=5, m=3.
    // A=[1,1]: nums (2*5-3*2, -1*2, -1*2)=(4,-2,-2), cums 4,2,0 -> 6/20
    // B=[2,3]: nums (-6,3,3), cums -6,-3,0            -> 9/20
    // C=[1]:   nums (2,-1,-1), cums 2,1,0             -> 3/10
    val df = Seq(("A", 1L), ("A", 1L), ("B", 2L), ("B", 3L), ("C", 1L))
      .toDF("g", "v")
    val rep = Privacy.tClosenessReport(df, Seq(col("g")), col("v"), tPpm = 350000L)
      .select(col("qi0"), col("n"),
        col("emd_num").cast("long"), col("emd_den").cast("long"), col("pass"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rep("A") == ((2L, 6L, 20L, 1L)), s"A: ${rep("A")}") // 0.30 <= 0.35
    assert(rep("B") == ((2L, 9L, 20L, 0L)), s"B: ${rep("B")}") // 0.45 >  0.35
    assert(rep("C") == ((1L, 3L, 10L, 1L)), s"C: ${rep("C")}") // 0.30 <= 0.35
    // threshold boundary is inclusive: t = 0.30 exactly keeps A and C
    val edge = Privacy.tClosenessReport(df, Seq(col("g")), col("v"), 300000L)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(edge == Map("A" -> 1L, "B" -> 0L, "C" -> 1L))
    // release = rows of passing classes only
    val rel = Privacy.tCloseness(df, Seq(col("g")), col("v"), 350000L)
      .select("g").as[String].collect().toSeq.sorted
    assert(rel == Seq("A", "A", "C"), s"got $rel")
    // m = 1 degenerate domain: trivially t-close, (0, 0) sentinel
    val one = Privacy.tClosenessReport(
      Seq(("A", 7L), ("B", 7L)).toDF("g", "v"), Seq(col("g")), col("v"), 0L)
      .collect().map(r => (r.getDecimal(2).longValueExact(),
        r.getDecimal(3).longValueExact(), r.getLong(4)))
    assert(one.forall(_ == ((0L, 0L, 1L))), s"got ${one.toSeq}")
    // null sensitive values are excluded from both distributions
    val withNull = df.unionAll(Seq(("A", Option.empty[Long])).toDF("g", "v"))
    val rep2 = Privacy.tClosenessReport(withNull, Seq(col("g")), col("v"), 350000L)
      .select(col("qi0"), col("n"), col("emd_num").cast("long")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep2("A") == ((2L, 6L)), s"got ${rep2("A")}")
  }

  test("EventAnalytics.seasonality: exact integer slot shares") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // key k1: 3 events in slot 0, 1 in slot 1 (slotNs=10, nSlots=2):
    // ts 0,2,21 -> slots 0,0,0 (21 DIV 10 = 2, 2 % 2 = 0); ts 10 -> slot 1
    val ev = Seq(("k1", 0L), ("k1", 2L), ("k1", 21L), ("k1", 10L),
      ("k2", 5L)).toDF("k", "ts")
    val out = EventAnalytics.seasonality(ev, "k", "ts", slotNs = 10L, nSlots = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(("k1", 0L)) == ((3L, 750000L, 1500000L)), s"got ${out(("k1", 0L))}")
    assert(out(("k1", 1L)) == ((1L, 250000L, 500000L)))
    assert(out(("k2", 0L)) == ((1L, 1000000L, 2000000L)))
  }

  test("Profiler.keySkew: exact top-k shares and totals") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = (Seq.fill(6)("hot") ++ Seq.fill(3)("warm") ++ Seq("c1", "c2", "c3"))
      .toDF("k")
    val out = Profiler.keySkew(df, col("k"), topK = 2).collect()
    assert(out.length == 2)
    assert((out(0).getString(0), out(0).getLong(1), out(0).getLong(2),
      out(0).getLong(3), out(0).getLong(4)) == (("hot", 6L, 500000L, 12L, 5L)))
    assert((out(1).getString(0), out(1).getLong(1)) == (("warm", 3L)))
  }

  test("Dedup.containmentPairs: ordered quote detection that Jaccard misses") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // doc 2 = doc 1's text embedded in a much longer page: containment
    // (1 in 2) = 1.0 while Jaccard is small; doc 3 unrelated
    val para = "alpha beta gamma delta epsilon zeta eta theta"
    val page = para + " " + (1 to 40).map(i => s"filler$i word$i").mkString(" ")
    val df = Seq((1L, para), (2L, page), (3L, "totally different text " * 5))
      .toDF("doc_id", "text")
    val out = graft.dedup.Dedup.containmentPairs(df, "doc_id", "text",
        shingleSize = 5, tauPermille = 900)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet == Set((1L, 2L)), s"got ${out.keySet}")
    val (shared, nInner, permille) = out((1L, 2L))
    assert(shared == nInner && permille == 1000L, s"got $shared/$nInner")
    // symmetric sanity: page-in-para direction is far below threshold
    val all = graft.dedup.Dedup.containmentPairs(df, "doc_id", "text",
      shingleSize = 5, tauPermille = 100)
    assert(all.where(col("inner_id") === 2L && col("outer_id") === 1L).count() == 0)
  }

  test("Dedup.dedupIncrement: history wins first, then greedy within the survivors") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.dedup.Dedup
    // injected signatures (the pluggable-signature seam) pin band/est
    // outcomes exactly: doc 2 shares bands 0-1 with history (est 0.5 ->
    // history drop), doc 3 shares bands 2-3 with DOC 2 ONLY (est 0.5 vs
    // doc 2, est 0 vs history), doc 4 is unrelated
    def sigOf(vals: Int*) = array(vals.map(v => lit(v.toLong)): _*)
    val sigFn = (t: org.apache.spark.sql.Column) =>
      when(t.contains("HISTDOC"), sigOf(1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4))
        .when(t.contains("DOCTWO"), sigOf(1, 1, 1, 1, 2, 2, 2, 2, 9, 9, 9, 9, 8, 8, 8, 8))
        .when(t.contains("DOCTHREE"), sigOf(7, 7, 7, 7, 6, 6, 6, 6, 9, 9, 9, 9, 8, 8, 8, 8))
        .otherwise(sigOf(21, 21, 21, 21, 22, 22, 22, 22, 23, 23, 23, 23, 24, 24, 24, 24))
    val hist = Seq((100L, "HISTDOC words")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "HISTDOC words"),   // exact dup of history -> exact-rule drop
      (2L, "DOCTWO words"),    // near-dup of history -> band/est drop
      (3L, "DOCTHREE words"),  // near-dup of doc 2 ONLY
      (4L, "fresh words")      // survivor
    ).toDF("doc_id", "text")
    val fp = Dedup.fingerprints(hist, "doc_id", "text", signature = Some(sigFn))
    val out = Dedup.dedupIncrement(batch, "doc_id", "text", fp,
        threshold = 0.5, signature = Some(sigFn))
      .select("doc_id").as[Long].collect().toSet
    // doc 3's only smaller-id match (doc 2) was removed by HISTORY before
    // the within-batch pass, so doc 3 must SURVIVE — the documented order
    assert(out == Set(3L, 4L), s"got $out")
    // sanity: with EMPTY history the whole batch goes through the
    // within-batch greedy rule, which is NON-iterative — doc 1 drops
    // doc 2, and doc 2 (though itself dropped) still drops doc 3
    val noHist = Dedup.dedupIncrement(batch, "doc_id", "text",
        Dedup.fingerprints(hist.where(lit(false)), "doc_id", "text",
          signature = Some(sigFn)),
        threshold = 0.5, signature = Some(sigFn))
      .select("doc_id").as[Long].collect().toSet
    assert(noHist == Set(1L, 4L), s"got $noHist")
  }

  test("EventAnalytics.rollingByKey: trailing range-frame count/sum with tie semantics") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ev = Seq(("u1", 0L, 10L), ("u1", 5L, 20L), ("u1", 11L, 40L),
      ("u1", 11L, 80L), ("u2", 100L, 7L)).toDF("u", "ts", "v")
    val out = EventAnalytics.rollingByKey(ev, "u", "ts", col("v"), windowUnits = 10L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)) -> r.getLong(2))
      .toMap
    // window [-10, 0]: t=5 sees {0,5}; t=11 sees {5,11,11} (0 falls out);
    // RANGE ties: both t=11 rows see BOTH t=11 values
    assert(out(("u1", 0L, 10L)) == 1L)
    assert(out(("u1", 5L, 30L)) == 2L)
    assert(out(("u1", 11L, 140L)) == 3L, s"got $out")
    assert(out(("u2", 100L, 7L)) == 1L)
  }

  test("Sampling.kFold: deterministic partition into k folds") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = (1 to 100).map(_.toLong).toDF("id")
    val out = Sampling.kFold(df, "id", 5, salt = "cv1")
    val folds = out.groupBy("fold").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folds.keySet.subsetOf((0L until 5L).toSet), s"got ${folds.keySet}")
    assert(folds.values.sum == 100L)
    // reproducible: same assignment on re-run and under repartitioning
    val again = Sampling.kFold(df.repartition(7), "id", 5, salt = "cv1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val first = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == first)
    // a different salt shuffles membership
    val other = Sampling.kFold(df, "id", 5, salt = "cv2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(other != first)
  }

  test("q_curation_e2e: chained stage counts pinned at sf0.001, invariants hold") {
    val rows = graft.SparkEntry.queries("q_curation_e2e")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // pinned against the independently-computed DuckDB chain
    assert(rows("00_ingest") == ((500L, 27939L)), s"got ${rows("00_ingest")}")
    assert(rows("01_quality") == ((339L, 23006L)), s"got ${rows("01_quality")}")
    assert(rows("02_dedup") == ((321L, 21686L)), s"got ${rows("02_dedup")}")
    assert(rows("03_mixture") == ((164L, 11095L)), s"got ${rows("03_mixture")}")
    assert(rows("04_pack") == ((22L, 11095L)), s"got ${rows("04_pack")}")
    // structural invariants any corpus must satisfy
    val stages = Seq("00_ingest", "01_quality", "02_dedup", "03_mixture")
    stages.sliding(2).foreach { case Seq(a, b) =>
      assert(rows(b)._1 <= rows(a)._1 && rows(b)._2 <= rows(a)._2,
        s"stage $b must not grow vs $a")
    }
    assert(rows("04_pack")._1 == (rows("03_mixture")._2 + 511) / 512,
      "chunks must equal ceil(packed tokens / 512)")
    assert(rows("04_pack")._2 == rows("03_mixture")._2,
      "pack must carry the full mixture token mass")
  }

  test("Dsir.bucketOf is the exact driver twin of codegen pmod(hash(ng), n)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the scoring udf and the codegen bucketCounts must index the same λ
    // slot for every n-gram, including multi-byte UTF-8 and empty strings
    val n = 1 << 10
    val ngs = Seq("a", "topic 99", "científico 数据", "", "buy now",
      "x" * 300).toDF("ng")
    ngs.select(col("ng"), pmod(hash(col("ng")), lit(n)).as("b")).collect()
      .foreach { r =>
        assert(Dsir.bucketOf(r.getString(0), n) == r.getInt(1),
          s"mismatch for '${r.getString(0).take(20)}'")
      }
  }

  test("Triangles.kCore: bounded peel reaches the exact core") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 4-clique {1,2,3,4} plus a pendant chain 4-5-6: the 3-core is the
    // clique alone — 5 dies round 1 (deg 2), nothing else changes; the
    // peel also needs the CASCADE: 6 (deg 1) dies round 1, THEN 5 drops
    // to deg 1 and dies round 2
    val edges = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),(4L,5L),(5L,6L))
      .toDF("s", "d")
    val core = Triangles.kCore(edges, "s", "d", k = 3, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k=2 keeps the clique too (chain still peels: 6 then 5)
    val core2 = Triangles.kCore(edges, "s", "d", k = 2, rounds = 4)
      .collect().map(_.getLong(0)).toSet
    assert(core2 == Set(1L, 2L, 3L, 4L))
    // zero rounds = degrees of the input graph, nothing peeled
    assert(Triangles.kCore(edges, "s", "d", k = 3, rounds = 0).count() == 6)
  }

  test("Sampling.groupSplit: co-membership, determinism, rough proportions") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = (0L until 3000L).map(i => (i, i / 3)) // 1000 groups of 3
    val df = rows.toDF("id", "grp")
    val out = Sampling.groupSplit(df, "id", "grp", salt = "s1")
    // every group maps to exactly one split (the leakage-safety invariant)
    assert(out.groupBy("group_id").agg(countDistinct("split").as("k"))
      .where(col("k") > 1).count() == 0)
    // rough 80/10/10 over 1000 groups
    val bySplit = out.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit("train") > 2200 && bySplit("train") < 2600, s"$bySplit")
    assert(bySplit("val") > 150 && bySplit("test") > 150, s"$bySplit")
    // pure function of the group id: partitioning must not matter
    val again = Sampling.groupSplit(df.repartition(7), "id", "grp", salt = "s1")
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    val first = out.collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(first == again)
    // a different salt reshuffles group assignments
    val other = Sampling.groupSplit(df, "id", "grp", salt = "s2")
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(first != other)
  }

  test("Scd2: no-op updates compress, intervals chain, multi-attr changes fork") {
    import spark.implicits._
    val log = Seq(
      // key a: state s1 at 10, no-op repeat at 20, change at 30, repeat 40
      ("a", 10L, "s1", 1L), ("a", 20L, "s1", 1L), ("a", 30L, "s2", 1L),
      ("a", 40L, "s2", 1L),
      // key b: same primary attr but the SECOND attr changes -> new version
      ("b", 5L, "s1", 1L), ("b", 15L, "s1", 2L))
      .toDF("k", "ts", "state", "tier")
    val out = Scd2.build(log, "k", "ts", Seq("state", "tier"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4),
        r.getBoolean(5), r.getLong(6)))
    // columns: k, state, tier, valid_from, valid_to, is_current, version
    assert(out.toSeq == Seq(
      ("a", "s1", 1L, 10L, 30L, false, 1L),
      ("a", "s2", 1L, 30L, -1L, true, 2L),
      ("b", "s1", 1L, 5L, 15L, false, 1L),
      ("b", "s1", 2L, 15L, -1L, true, 2L)))
  }

  test("EventAnalytics.locfGrid: gap fill, carry-forward, leading nulls") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // step 10: key x observed at 0 and 30 (gaps 10, 20), key y first seen
    // at 20 (leading buckets null, never carried)
    val ev = Seq(("x", 0L, 5L), ("x", 2L, 7L), ("x", 30L, 1L), ("y", 25L, 9L))
      .toDF("k", "ts", "c")
    val out = EventAnalytics.locfGrid(ev, "k", "ts", col("c"), stepNs = 10L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
    assert(out.length == 8, "2 keys x 4 buckets [0,30]")
    val x = out.filter(_._1 == "x").map(t => (t._2, t._3, t._4, t._5)).toSeq
    assert(x == Seq((0L, 2L, 12L, false), (10L, 0L, 12L, true),
      (20L, 0L, 12L, true), (30L, 1L, 1L, false)))
    val y = out.filter(_._1 == "y").map(t => (t._2, t._3, t._4, t._5)).toSeq
    assert(y == Seq((0L, 0L, -1L, false), (10L, 0L, -1L, false),
      (20L, 1L, 9L, false), (30L, 0L, 9L, true)))
  }

  test("FuzzyJoin: prefix filter is exactness-preserving vs brute force") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // skewed vocabulary: token "the" is in almost every record (must never
    // generate the full cross product), rare tokens drive the prefixes;
    // duplicates inside a record exercise the dedup
    def rec(i: Int): Seq[String] = {
      val base = Seq("the", s"w${i % 7}", s"w${(i * 3) % 7}", s"r$i")
      if (i % 5 == 0) base :+ "the" else base
    }
    val left = (0 until 30).map(i => (i.toLong, rec(i))).toDF("id", "ts")
    val right = (0 until 30).map(i => (100L + i, rec(i + 2))).toDF("id", "ts")
    for ((num, den) <- Seq((1, 2), (2, 3), (1, 3))) {
      val fast = FuzzyJoin.jaccardJoin(left, right, "id", "ts", num, den)
        .select("id_a", "id_b", "inter", "uni")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val l2 = left.select(col("id").as("ia"), array_distinct(col("ts")).as("ta"))
      val r2 = right.select(col("id").as("ib"), array_distinct(col("ts")).as("tb"))
      val inter = size(array_intersect(col("ta"), col("tb")))
      val brute = l2.crossJoin(r2)
        .select(col("ia"), col("ib"), inter.cast("long").as("i"),
          (size(col("ta")) + size(col("tb")) - inter).cast("long").as("u"))
        .where(col("i") * den >= col("u") * num)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(fast == brute, s"tau=$num/$den: prefix-filtered != brute force")
      assert(brute.nonEmpty, s"tau=$num/$den: degenerate test — no pairs")
    }
  }

  test("Stats.moments: symmetric data has zero skew; uniform kurtosis matches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // symmetric around 30 -> skewness exactly 0; two-point {0,10} ->
    // m2=25, kurt = m4/m2^2 - 3 = 625/625 - 3 = -2
    val df = Seq(("s", 10L), ("s", 20L), ("s", 30L), ("s", 40L), ("s", 50L),
      ("b", 0L), ("b", 10L)).toDF("g", "v")
    val out = Stats.moments(df, col("g"), col("v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(out("s")._1 == 5L && out("s")._2 == 30.0 && out("s")._4 == 0.0)
    assert(out("b") == ((2L, 5.0, 25.0, 0.0, -2.0)))
  }

  test("Stats.robustOutliers: exact med2/mad4 on odd and even groups, flag math") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // group a (odd n=5): values 1,2,3,4,100 -> median 3 (med2=6),
    //   deviations |2v-6|/2 = 1,2,0,1,97*? D=|2v-6| = 4,2,0,2,194 ->
    //   sorted 0,2,2,4,194 -> MAD-median D=2 (mad4=4); outlier iff
    //   20000*D > 44478*4 = 177912 -> only D=194 (3880000) flags
    // group b (even n=4): 10,20,30,40 -> med2 = 20+30 = 50;
    //   D = |2v-50| = 30,10,10,30 -> two-middle of (10,10,30,30) = 10+30
    val df = Seq(("a", 1L, 1L), ("a", 2L, 2L), ("a", 3L, 3L), ("a", 4L, 4L),
      ("a", 100L, 5L), ("b", 10L, 6L), ("b", 20L, 7L), ("b", 30L, 8L),
      ("b", 40L, 9L)).toDF("g", "v", "u")
    val out = Stats.robustOutliers(df, col("g"), col("v"), col("u"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("a") == ((5L, 6L, 4L, 1L)), s"got ${out("a")}")
    assert(out("b") == ((4L, 50L, 40L, 0L)), s"got ${out("b")}")
  }

  test("robustOutliers/ksDistance plans: no single-partition or per-group sort windows") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the two historical scale traps: ksDistance's bare Window.orderBy
    // (everything through ONE task) and robustOutliers' per-group row sort
    // (parallelism bounded by group count). Since r21 BOTH operators run
    // on selection/offsets-and-walk machinery with NO window anywhere —
    // robustOutliers since r17, ksDistance since its runningTotalsBy
    // hierarchy was replaced by the per-partition max walk. The pin is
    // therefore the stronger invariant: zero WindowExec nodes; if one
    // ever reappears it must at least be key-partitioned.
    val df = (1 to 200).map(i => ("g" + (i % 3), (i * 37 % 50).toLong, i.toLong))
      .toDF("g", "v", "u")
    def windows(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    val ws = windows(Stats.robustOutliers(df, col("g"), col("v"), col("u"))) ++
      windows(Stats.ksDistance(df, col("v"), col("u")))
    assert(ws.isEmpty,
      s"expected window-free selection plans, found: ${ws.mkString("; ")}")
  }

  test("Rfm: orientation (recent/frequent/valuable = high), exact rank quintiles") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 5 entities, one activity each at distinct days/values so every
    // dimension has a total order; asOf=100
    val acts = Seq((1L, 99L, 500L), (2L, 90L, 400L), (3L, 80L, 300L),
      (4L, 70L, 200L), (5L, 60L, 100L)).toDF("e", "day", "cents")
    val out = Rfm.scores(acts, "e", col("day"), col("cents"), asOf = 100L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(4), r.getLong(6), r.getString(7))).toMap
    // entity 1: most recent (recency 1) and most valuable -> r=5, m=5
    assert(out(1L) == ((1L, 5L, 5L, "515")))
    // entity 5: stalest, least valuable -> r=1, m=1; frequency all tie=1
    assert(out(5L)._2 == 1L && out(5L)._3 == 1L)
    // frequency ties break by entity id: deterministic 1..5 spread
    assert(out.values.map(_._4(1)).toSeq.sorted == Seq('1', '2', '3', '4', '5'))
  }

  test("Checks: exact violation counts per constraint, one-scan row suite") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import Checks._
    val df = Seq((1L, Some(10), "ok"), (2L, None, "ok"), (3L, Some(99), "bad"),
      (1L, Some(20), "ok")).toDF("k", "v", "s")
    val ref = Seq(10, 20).toDF("rv")
    val out = Checks.run(df, Seq(
      RowCheck("v_not_null", notNull($"v")),
      RowCheck("v_range", inRange($"v", lit(0), lit(50))),
      RowCheck("s_domain", inSet($"s", Seq("ok"))),
      UniqueCheck("k_unique", Seq($"k")),
      RefCheck("v_ref", $"v", ref, "rv")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out("v_not_null") == ((4L, 1L, false)))
    assert(out("v_range") == ((4L, 2L, false)))     // null counts + 99
    assert(out("s_domain") == ((4L, 1L, false)))
    assert(out("k_unique") == ((4L, 1L, false)))    // one extra copy of k=1
    assert(out("v_ref") == ((4L, 1L, false)))       // 99 unmatched; null skipped
  }

  test("Cdc.applyChanges: latest-seq wins, deletes drop, inserts land, base passes") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (2L, "b2", "U", 1L), (2L, "b3", "U", 2L),  // later seq wins
      (3L, "x", "D", 1L),                          // delete
      (4L, "d", "I", 1L),                          // insert
      (5L, "e", "I", 1L), (5L, "x", "D", 2L))      // insert then delete
      .toDF("k", "v", "op", "seq")
    val out = Cdc.applyChanges(base, changes, Seq("k"), "op", "seq")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "b3", 4L -> "d"))
  }

  test("Rake: stopword-delimited phrases, sum-ratio scores, total tie order") {
    import spark.implicits._
    val df = Seq((1L, "deep learning of deep networks is hard")).toDF("id", "t")
    val out = Rake.keywords(df, "id", "t", Seq("of", "is"),
        maxPhraseLen = 4, topK = 3)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getInt(6)))
    // freq: deep 2, learning/networks/hard 1; deg: deep 4, learning 2,
    // networks 2, hard 1 -> both "deep *" phrases score 6/3 = 2.0 (tie
    // broken by phrase text), "hard" scores 1.0
    assert(out.toSeq == Seq(
      ("deep learning", 2L, 6L, 3L, 2.0, 1),
      ("deep networks", 2L, 6L, 3L, 2.0, 2),
      ("hard", 1L, 1L, 1L, 1.0, 3)), s"got ${out.toSeq}")
  }

  test("Modularity: exact integer numerators on two bridged triangles") {
    import spark.implicits._
    // two triangles joined by one bridge: the textbook Q = 70/196 ~ 0.357
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("a", "b")
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L),
      (6L, 20L)).toDF("node", "label")
    val out = Modularity.of(edges, "a", "b", labels, "node", "label")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDecimal(4).longValueExact)).toMap
    // each triangle: e_c=3, d_c=7 -> q_num = 4*7*3 - 49 = 35; Q = 70/(4*49)
    assert(out(10L) == ((3L, 3L, 7L, 35L)))
    assert(out(20L) == ((3L, 3L, 7L, 35L)))
    assert(out.values.map(_._4).sum / (4.0 * 7 * 7) === 70.0 / 196.0)
  }

  test("q_modularity gate pins the known sf0.01 row as BIGINT q_num") {
    // the driver gate was hash-red in r10/r11 on decimal canonicalization
    // alone; pin the agreed row (both engines + independent replay) and the
    // emitted type so a regression in either is caught before the driver
    val out = graft.SparkEntry.queries("q_modularity")(spark, "/root/testdata/sf0.01")
    assert(out.schema("q_num").dataType == org.apache.spark.sql.types.LongType,
      s"q_num must be BIGINT, got ${out.schema("q_num").dataType}")
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq == Seq((0L, 100L, 455L, 910L, 0L)), s"got ${rows.toSeq}")
  }

  test("Attribution: first/last touch inside the lookback, exact boundaries") {
    import spark.implicits._
    // user 1: touches at t=10,20,30 (click,view,click), purchase at t=35,
    // lookback 20 -> window [15,34]: first=view@20, last=click@30, n=2
    // user 2: purchase with no touch in window -> nulls
    // user 3: touch exactly at conv_ts (t=50) is EXCLUDED ([-L,-1])
    val ev = Seq(
      (101L, 10L, 1L, "click"), (102L, 20L, 1L, "view"), (103L, 30L, 1L, "click"),
      (104L, 35L, 1L, "purchase"),
      (201L, 5L, 2L, "click"), (202L, 40L, 2L, "purchase"),
      (301L, 50L, 3L, "view"), (302L, 50L, 3L, "purchase"))
      .toDF("event_id", "ts_us", "user_id", "event_type")
    val out = Attribution.attribute(ev, "user_id", "ts_us", "event_type",
      "event_id", Seq("click", "view"), "purchase", lookback = 20L)
      .collect().map(r => r.getLong(0) -> (r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]), Option(r.getString(5)),
        Option(r.get(6)).map(_.asInstanceOf[Long]))).toMap
    assert(out(104L) == ((2L, Some(102L), Some("view"), Some(103L))))
    assert(out(202L) == ((0L, None, None, None)))
    assert(out(302L) == ((0L, None, None, None)), "same-ts touch must not attribute")
  }

  test("BitextMine: mutual-best with ratio margin excludes non-reciprocal matches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // even ids = side A, odd = side B (2-D so the geometry is legible):
    // a0 <-> b1 mutual and far from everything (high margin);
    // a2's best is b1 but b1's best is a0 -> a2 not reciprocal, dropped;
    // a4 <-> b3 mutual but b5 is nearly as close to a4 -> margin ~1, dropped
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.99f, 0.02f)),
      (2L, Seq(0.95f, 0.12f)),
      (4L, Seq(0.0f, 1.0f)), (5L, Seq(0.05f, 1.0f)), (3L, Seq(-0.04f, 1.0f)))
      .toDF("id", "vec")
    val out = BitextMine.mine(vecs, "id", "vec", col("id") % 2 === 0,
      minCos = 0.2, minMargin = 1.05)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((0L, 1L)),
      s"expected only the clean mutual pair, got $out")
    // with no margin bar the ambiguous a4<->b5 pair comes back
    val loose = BitextMine.mine(vecs, "id", "vec", col("id") % 2 === 0,
      minCos = 0.2, minMargin = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == Set((0L, 1L), (4L, 3L)), s"got $loose")
  }

  test("Profiler: long-format nulls/distinct/range in ONE scan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, Some("a"), 10), (2L, None, 20), (3L, Some("a"), 10),
      (4L, Some("b"), 30)).toDF("id", "s", "v")
    val out = Profiler.profile(df, Seq("s" -> col("s"), "v" -> col("v")))
    val m = out.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(m("s") == ((4L, 1L, 2L, "a", "b")))
    assert(m("v") == ((4L, 0L, 3L, "10", "30")))
    // one scan: the whole profile is a single aggregate over one relation
    // (distinct counts multiplex through ONE Expand, never extra scans);
    // count leaf nodes, not plan text — AQE's printout repeats the initial
    // plan and double-counts
    val scans = out.queryExecution.executedPlan.collectLeaves().size
    assert(scans == 1, s"profile must read the input once, saw $scans leaves")
  }

  test("DomainOps: reputation integer milli-mean and template stripping") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      (1L, "a.com", "hdr\nbody one\nftr"),
      (2L, "a.com", "hdr\nbody two\nftr"),
      (3L, "a.com", "hdr\nbody three"),          // no footer
      (4L, "b.com", "hdr\nother body\nftr"),      // hdr/ftr rare within b.com
      (5L, "b.com", "solo\n\nsolo")               // empty line never a template
    ).toDF("id", "dom", "t")
    val rep = DomainOps.reputation(docs, "id", col("dom"),
      length(col("t")), minAvgMilli = 17000L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // a.com lengths 16,16,14 -> sum 46, avg_milli 46000/3 = 15333, keep false
    assert(rep(1L) == ((3L, 15333L, false)))
    // b.com lengths 18,10 -> 14000 milli, keep false; raise threshold path
    assert(rep(4L)._1 == 2L && rep(4L)._2 == 14000L)
    val strip = DomainOps.stripTemplateLines(docs, "id", "t", col("dom"), 3L)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // within a.com: "hdr" in 3 docs -> template; "ftr" only 2 -> kept
    assert(strip(1L) == (("body one\nftr", 3L, 1L)))
    assert(strip(3L) == (("body three", 2L, 1L)))
    // b.com: nothing reaches minDocs=3; empty line preserved in place
    assert(strip(4L) == (("hdr\nother body\nftr", 3L, 0L)))
    assert(strip(5L) == (("solo\n\nsolo", 3L, 0L)))
  }

  test("EditJoin: segment pruning is exactness-preserving vs brute force") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // clustered strings (small alphabet, shared stems) so near-misses at
    // every distance exist; includes strings shorter than k+1 (the
    // length-band fallback path) and empty-adjacent lengths
    def mk(i: Int): String = {
      val stems = Seq("alpha", "alpna", "alph", "beta", "betaa", "bta",
        "gamma", "gamna", "ga", "g", "", "delta particle", "delta particel")
      stems(i % stems.size) + (if (i % 4 == 0) i.toString.take(1) else "")
    }
    val left = (0 until 40).map(i => (i.toLong, mk(i))).toDF("id", "s")
    val right = (0 until 40).map(i => (100L + i, mk(i + 1))).toDF("id", "s")
    for (k <- Seq(0, 1, 2, 3)) {
      val fast = EditJoin.join(left, right, "id", "s", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val brute = left.select(col("id").as("ia"), col("s").as("sa"))
        .crossJoin(right.select(col("id").as("ib"), col("s").as("sb")))
        .select(col("ia"), col("ib"), levenshtein(col("sa"), col("sb")).cast("long").as("d"))
        .where(col("d") <= k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(fast == brute, s"k=$k: segment-pruned != brute force " +
        s"(missing=${brute -- fast}, extra=${fast -- brute})")
      assert(brute.nonEmpty, s"k=$k: degenerate test — no pairs")
    }
  }

  test("TrigramLm: stupid backoff levels and integer bits") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // train half = even ids: "a b c d" twice → trigram counts
    //   {a b c: 2, b c d: 2}; bigrams {a b: 2, b c: 2, c d: 2};
    //   unigrams {a: 2, b: 2, c: 2, d: 2}, N = 8
    val df = Seq(
      (0L, "a b c d"), (2L, "a b c d"),
      (1L, "a b c"),      // in-train trigram → level 0
      (3L, "b c d x"),    // "b c d" level 0; "c d x" → x OOV → level 3
      (5L, "d a b"),      // trigram unseen, bigram "a b" seen → level 1
      (7L, "x y"),        // sub-3-token → null score
      (9L, "c a d")       // trigram+bigram "a d" unseen, unigram d seen → level 2
    ).toDF("doc_id", "text")
    val out = TrigramLm.scoreBackoff(df, "doc_id", "text", col("doc_id") % 2 === 0)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None
         else Some((r.getLong(1), r.getDouble(2), r.getDouble(3))))).toMap
    assert(out.size == 7)
    assert(out(7L).isEmpty, "2-token doc scores null")
    // doc 1: one trigram "a b c", c3=2, ctx "a b"=2 → bits = blen(2)-blen(2)=0
    assert(out(1L).contains((1L, 0.0, 0.0)))
    // doc 0 (in-train): trigrams a-b-c, b-c-d both level 0, bits 0 each
    assert(out(0L).contains((2L, 0.0, 0.0)))
    // doc 5: "d a b" backs off to bigram "a b" (cb=2) over ctx a (cu=2):
    // bits = blen(2)-blen(2)+2 = 2, level 1
    assert(out(5L).contains((1L, 2.0, 1.0)))
    // doc 9: "c a d" → no trigram, no bigram "a d"; unigram d (cu=2, N=8):
    // bits = blen(8)-blen(2)+4 = 4-2+4 = 6, level 2
    assert(out(9L).contains((1L, 6.0, 1.0)))
    // doc 3: "b c d" bits 0 + "c d x" OOV bits blen(8)+4 = 8 → mean 4.0,
    // backoff_frac 0.5
    assert(out(3L).contains((2L, 4.0, 0.5)))
  }

  test("approxQuantiles: rank error under 1% across partitioned merges") {
    import org.apache.spark.sql.functions._
    import graft.functions.gf
    import spark.implicits._
    // a skewed distribution (squares) over many partitions forces real
    // partial-aggregate merges; k=256 must hold every permille within 1%
    val n = 20000
    val vals = (0 until n).map(i => (i.toLong * i.toLong) % 1000003L)
    val sorted = vals.sorted
    val df = vals.toDF("v").repartition(17)
    val ps = Seq(10, 250, 500, 750, 990)
    val got = df.agg(gf.approxQuantiles(col("v"), ps).as("q"))
      .head().getSeq[Long](0)
    ps.zip(got).foreach { case (p, est) =>
      val trueRank = sorted.search(est) match {
        case scala.collection.Searching.Found(i) => i
        case scala.collection.Searching.InsertionPoint(i) => i
      }
      val target = p.toLong * (n - 1) / 1000
      assert(math.abs(trueRank - target) <= n / 100,
        s"p$p: est $est at rank ~$trueRank, target rank $target")
    }
  }

  test("Sniff: magic bytes identify extension-less payloads") {
    assert(Sniff.sniff("%PDF-1.4\n".getBytes("ISO-8859-1")) == "pdf")
    assert(Sniff.sniff("WEBVTT\n\n00:01 --> 00:02".getBytes) == "vtt")
    assert(Sniff.sniff("  <!DOCTYPE HTML><html><p>x</p>".getBytes) == "html")
    assert(Sniff.sniff("<HTML><body>y".getBytes) == "html")
    assert(Sniff.sniff("plain prose, no markup at all.".getBytes) == "text")
    assert(Sniff.sniff(Array[Byte](0, 1, 2, 3, 0, 1, 2, 3)) == "")
    // raster magics (MediaOps.decode's dispatch set) beat the text fallback
    assert(Sniff.sniff(graft.operators.MediaCorpus.bytesFor(0L)) == "ppm")
    assert(Sniff.sniff(graft.operators.MediaCorpus.bytesFor(8L)) == "bmp")
    assert(Sniff.sniff((Array(0x89, 'P', 'N', 'G').map(_.toByte))) == "png")
    assert(Sniff.sniff(Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte)) == "jpeg")
    assert(Sniff.sniff("GIF89a".getBytes) == "gif")
    // minimal ZIPs: magic + entry name decides the OOXML flavor
    def zipWith(entry: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      z.putNextEntry(new java.util.zip.ZipEntry(entry))
      z.write("x".getBytes); z.closeEntry(); z.close()
      bos.toByteArray
    }
    assert(Sniff.sniff(zipWith("word/document.xml")) == "docx")
    assert(Sniff.sniff(zipWith("ppt/presentation.xml")) == "pptx")
    assert(Sniff.sniff(zipWith("data/other.bin")) == "")
  }

  test("partitionAuto sniffs extension-less documents before giving up") {
    val doc = graft.model.Document.of("crawl-payload-123")  // no extension
      .copy(binaryRepresentation = Some("<html><p>hello sniffed world</p></html>".getBytes))
    val out = DocSet.of(spark, Seq(doc)).partitionAuto().takeAll()
    assert(out.head.elements.nonEmpty, "html content must partition via sniffing")
    assert(!out.head.properties.contains("unsupported_format"))
    val junk = graft.model.Document.of("blob-9")
      .copy(binaryRepresentation = Some(Array[Byte](0, 1, 2, 3)))
    val out2 = DocSet.of(spark, Seq(junk)).partitionAuto().takeAll()
    assert(out2.head.prop("unsupported_format").contains("unknown"))
  }

  test("Robots: group selection, longest-match, allow-tie, wildcard-group fallback") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val txt =
      """User-agent: graftbot
        |Disallow: /a/
        |Allow: /a/ok/
        |Disallow:
        |Disallow: /b*  # wildcard rule: skipped (optional REP feature)
        |
        |User-agent: *
        |Disallow: /
        |""".stripMargin
    val rules = Robots.parse(txt, "GraftBot")  // agent match is case-blind
    assert(rules == Seq(("/a/ok/", true), ("/a/", false)))
    // unknown agent falls back to the * group
    assert(Robots.parse(txt, "otherbot") == Seq(("/", false)))
    val df = Seq("/a/ok/x", "/a/secret", "/b9", "/c").toDF("p")
    val out = df.select(col("p"), Robots.allowedCol(col("p"), rules).as("ok"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(out == Map("/a/ok/x" -> true, "/a/secret" -> false,
      "/b9" -> true, "/c" -> true))
  }

  test("classTopTerms: discriminative terms rank first per class") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(("A", "apple apple banana"), ("B", "cherry banana")).toDF("cls", "text")
    val out = TfIdf.classTopTerms(df, "cls", "text", 1)
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getDouble(4))))
      .toMap
    // A=2.5 mean tokens/class: apple = 2*(2.5+1)/(2+1) = 2.333333;
    // cherry = 1*(3.5)/(1+1) = 1.75; banana (shared) loses in both
    assert(out("A") == (("apple", 2.333333)))
    assert(out("B") == (("cherry", 1.75)))
  }

  test("canonicalizeUrl: case/port/www/tracking/order/fragment all collapse") {
    import org.apache.spark.sql.functions._
    import graft.functions.gf
    import spark.implicits._
    val df = Seq(
      (1, "HTTPS://WWW.EXAMPLE.COM:443/a/?utm_source=x&b=2&a=1#f"),
      (2, "http://example.com:8080/"),
      (3, "https://example.com:80/x"),     // non-default port survives
      (4, "not a url"),
      (5, "http://user:pw@Host.com/p?fbclid=1&ref=z"),
      (6, "https://example.com/?b=2&a=1"),
      (7, "https://example.com/?a=1&b=2")  // same canon as (6)
    ).toDF("id", "u")
    val out = df.select(col("id"), gf.canonicalizeUrl(col("u")).as("c"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out(1) == "https://example.com/a?a=1&b=2")
    assert(out(2) == "http://example.com:8080")
    assert(out(3) == "https://example.com:80/x")
    assert(out(4) == "not a url")
    assert(out(5) == "http://host.com/p")
    assert(out(6) == "https://example.com?a=1&b=2")
    assert(out(6) == out(7))
  }

  test("ksDistance: exact rational KS over a known support") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // side 0: [1,1,2], side 1: [2,3] -> max |ca*nb - cb*na| at v=1:
    // |2*2 - 0*3| = 4; den = 3*2 = 6
    val df = Seq((1L, 0L), (1L, 0L), (2L, 0L), (2L, 1L), (3L, 1L)).toDF("v", "s")
    val r = Stats.ksDistance(df, col("v"), col("s")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((3L, 2L, 4L, 6L)))
    assert(r.getDouble(4) == 0.666667)
  }

  test("winsorize: exact permille bounds clip only the tails") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 0..99 plus outlier 1000: n=101, rank-1 bound = 1, rank-99 bound = 99
    val df = ((0 to 99).map(_.toLong) :+ 1000L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val out = Calibration.winsorize(df, col("v"), "id", 10, 990, "cv")
      .select("v", "cv", "clipped").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.count(_._3) == 2)
    assert(out.find(_._1 == 0L).get._2 == 1L)     // low tail raised
    assert(out.find(_._1 == 1000L).get._2 == 99L) // high tail lowered
    assert(out.filter(t => t._1 >= 1 && t._1 <= 99).forall(t => t._2 == t._1 && !t._3))
  }

  test("fimTransform: pieces reassemble to the original, short texts pass through") {
    import org.apache.spark.sql.functions._
    import graft.functions.gf
    import spark.implicits._
    val df = Seq((7L, "abcdefghijklmnopqrstuvwxyz0123456789"), (8L, "tiny"))
      .toDF("id", "s")
    val out = df.select(col("id"), gf.fimTransform(col("id"), col("s")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(8L) == "tiny")
    val m = "<PRE>(.*)<SUF>(.*)<MID>(.*)".r
    out(7L) match {
      case m(pre, suf, mid) =>
        assert(pre.nonEmpty && mid.nonEmpty && suf.nonEmpty)
        assert(pre + mid + suf == "abcdefghijklmnopqrstuvwxyz0123456789")
      case other => fail(s"not PSM format: $other")
    }
    // deterministic across runs
    val again = df.select(gf.fimTransform(col("id"), col("s"))).collect().map(_.getString(0))
    assert(again.contains(out(7L)))
  }

  test("spanCorrupt: sentinels line up, token multiset is preserved") {
    import org.apache.spark.sql.functions._
    import graft.functions.gf
    import spark.implicits._
    val toks = (1 to 25).map(i => s"w$i")
    val df = Seq((3L, toks.mkString(" ")), (4L, "")).toDF("id", "s")
    val rows = df.select(col("id"), gf.spanCorrupt(col("id"), col("s")).as("c"))
      .select(col("id"), col("c.input"), col("c.target"), col("c.n_masked"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getLong(3)))).toMap
    assert(rows(4L) == (("", "", 0L)))
    val (input, target, nMasked) = rows(3L)
    assert(nMasked <= 2, "partial tail block must never mask")
    val sent = "<x_\\d+>".r
    val inToks = input.split(" ").filterNot(t => sent.matches(t))
    val tgtToks = target.split(" ").filter(_.nonEmpty).filterNot(t => sent.matches(t))
    assert(inToks.length == 25 - 3 * nMasked)
    assert((inToks ++ tgtToks).sorted.toSeq == toks.sorted)
    // each masked block contributes one sentinel to BOTH sides, same ids
    val inSent = sent.findAllIn(input).toSeq
    val tgtSent = sent.findAllIn(target).toSeq
    assert(inSent.length == nMasked && inSent == tgtSent)
  }

  test("temperatureMixture: alpha flattens the source distribution deterministically") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // big: 100 rows, small: 4. alpha=1/2: w=(10,2), budget 24 ->
    // f_big = 24*10/12/100 = 0.2, f_small = 24*2/12/4 = 1.0 (kept whole)
    val df = ((0 until 100).map(i => (i.toLong, "big")) ++
      (100 until 104).map(i => (i.toLong, "small"))).toDF("id", "src")
    val out = Sampling.temperatureMixture(df, "id", "src",
        budgetDocs = 24L, alphaQuarters = 2, salt = "t")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (big, small) = out.partition(_._2 == "big")
    assert(small.length == 4, "f=1.0 stratum keeps every row")
    assert(big.length > 0 && big.length < 60, s"big stratum downsamples, got ${big.length}")
    // deterministic and partitioning-independent
    val again = Sampling.temperatureMixture(df.repartition(7), "id", "src",
        budgetDocs = 24L, alphaQuarters = 2, salt = "t")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSet == again.toSet)
  }

  test("the three mixtures accept a non-string stratum (int year)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = (0L until 90L).map(i => (i, 2020 + (i % 3).toInt, "w " * (5 + (i % 4).toInt)))
      .toDF("id", "year", "text")
    val asString = df.withColumn("year", col("year").cast("string"))
    val toks = graft.functions.gf.tokenCount(col("text"))
    val budgets = Map("2020" -> 60L, "2021" -> 400L)
    val mixtures: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "tokenBudgetMixture" -> (Sampling.tokenBudgetMixture(_, "id", "year", toks, budgets, "y")),
      "epochMixture" -> (Sampling.epochMixture(_, "id", "year", toks, budgets, "y")),
      "temperatureMixture" -> (Sampling.temperatureMixture(_, "id", "year", 40L, 2, "y")))
    for ((name, f) <- mixtures) {
      val got = f(df).select("id").as[Long].collect().sorted.toSeq
      val want = f(asString).select("id").as[Long].collect().sorted.toSeq
      assert(got.nonEmpty && got == want, s"$name: int stratum differs from its string form")
    }
  }

  test("sortedNeighborhood: window pairs over the global key order") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, "apple"), (2L, "apricot"), (3L, "banana"), (4L, "cherry"))
      .toDF("id", "k")
    val out = Blocking.sortedNeighborhood(df, "id", col("k"), window = 2)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // sorted order apple < apricot < banana < cherry: 3 adjacent pairs + 2 skip-one
    assert(out == Set((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (1L, 3L, 2L), (2L, 4L, 2L)))
  }

  test("anomalousBuckets: integer z-test flags the spike bucket only") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // ten 1-event buckets + one 50-event bucket (step 10). With n=11:
    // spike (n*x-S)^2 = 490^2 = 240100 > 9*(n*SS-S^2) = 216090 -> flagged;
    // a lone outlier among n<=10 equal buckets can NEVER exceed 3 sigma
    // (max z = sqrt(n-1)), so the 11th bucket is what makes this testable.
    val quiet = (0 until 10).map(b => ("a", b * 10L))
    val spike = (0 until 50).map(i => ("a", 100L + i % 10))
    val ev = (quiet ++ spike).toDF("k", "ts")
    val out = EventAnalytics.anomalousBuckets(ev, "k", "ts", stepNs = 10L)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(100L) == ((50L, true)))
    assert((0 until 10).forall(b => out(b * 10L) == ((1L, false))))
  }

  test("markovTransitions: per-user lead pairs, exact counts and ratios") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "A", 10L), (2L, 1L, "B", 20L), (3L, 1L, "A", 30L), (4L, 1L, "B", 40L),
      (5L, 2L, "A", 10L), (6L, 2L, "B", 20L))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = EventAnalytics.markovTransitions(ev, "user_id", "event_type", "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out == Map(
      ("A", "B") -> ((3L, 3L, 1.0)),   // no cross-user A(u1,40)->A(u2,10) pair
      ("B", "A") -> ((1L, 1L, 1.0))))
  }

  test("LabelProp: min seed label within r hops; unreached nodes unlabeled") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // path 1-2-3-4-5-6, isolated 7; seeds: 1 -> 10, 5 -> 20
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("s", "d")
    val seeds = Seq((1L, 10L), (5L, 20L)).toDF("node", "label")
    val out = LabelProp.propagate(edges, seeds, "s", "d", "node", "label", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 3: 2 hops from both seeds -> min(10, 20) = 10; node 4: 1 hop
    // from seed 5 but also 2 hops through 3? no - 4 is 3 hops from seed 1,
    // so only label 20 reaches it in 2 rounds
    assert(out == Map(1L -> 10L, 2L -> 10L, 3L -> 10L,
      4L -> 20L, 5L -> 20L, 6L -> 20L))
    // r=0: seeds only
    val out0 = LabelProp.propagate(edges, seeds, "s", "d", "node", "label", rounds = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out0 == Map(1L -> 10L, 5L -> 20L))
  }

  test("luhnValid accepts real checksums, rejects off-by-one and short runs") {
    import org.apache.spark.sql.functions._
    import graft.functions.gf
    val df = spark.createDataFrame(Seq(
      (1, "4111111111111111"),       // classic Visa test number: valid
      (2, "4111111111111112"),       // last digit off: invalid
      (3, "4539 5787 6362 1486"),    // separators stripped before checksum
      (4, "1234567890128"),          // 13 digits, valid check digit
      (5, "1234567890124"),          // 13 digits, fails
      (6, "123456789012"),           // too short regardless of checksum
      (7, "")                        // no digits at all
    )).toDF("id", "s")
    val out = df.select(col("id"), gf.luhnValid(col("s")).as("v"))
      .collect().map(r => r.getInt(0) -> r.getBoolean(1)).toMap
    assert(out == Map(1 -> true, 2 -> false, 3 -> true, 4 -> true,
      5 -> false, 6 -> false, 7 -> false))
  }

  test("scrubCreditCards redacts only Luhn-valid candidates") {
    import org.apache.spark.sql.functions._
    import graft.functions.gf
    val df = spark.createDataFrame(Seq(
      (1, "pay 4111-1111-1111-1111 now, ref 1234567890124 end"),
      (2, "order 20260814 total 12.50")  // short digit runs untouched
    )).toDF("id", "s")
    val out = df.select(col("id"), gf.scrubCreditCards(col("s")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out(1) == "pay [CC] now, ref 1234567890124 end")
    assert(out(2) == "order 20260814 total 12.50")
  }

  test("readabilityStats: exact integer counts and milli-grade") {
    import org.apache.spark.sql.functions._
    import graft.functions.gf
    val df = spark.createDataFrame(Seq(
      (1, "The cat sat. It ran!"),
      // 4 long words, 1 sentence, 18 vowel groups -> fk = 39.070
      (2, "Considerations regarding extraordinary implementation."),
      (3, "XYZ 42"),   // one vowel group ('y') + one vowel-less token
      (4, "")
    )).toDF("id", "s")
    val out = df.select(col("id"), gf.readabilityStats(col("s")).as("r"))
      .select(col("id"), col("r.n_words"), col("r.n_sentences"),
        col("r.n_syllables"), col("r.fk_milli"))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // (1): W=5 S=2 Y=5 -> negative grade clamps to 0
    assert(out(1) == ((5L, 2L, 5L, 0L)))
    // (2): (390*16 + 11800*18*1 - 15590*4*1) / 4 = 39070
    assert(out(2) == ((4L, 1L, 18L, 39070L)))
    // (3): W=2, no [.!?] -> S floored at 1; Y = 0 vowel groups + 2 vowel-less
    assert(out(3) == ((2L, 1L, 2L, 0L)))
    assert(out(4) == ((0L, 0L, 0L, 0L)))
  }
}
