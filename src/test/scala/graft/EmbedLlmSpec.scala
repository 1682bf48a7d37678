package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.docset.DocSet
import graft.embed.HashEmbedder
import graft.llm.{AsyncLlmClient, FakeLlmClient, LlmClient, LlmEntityExtractor, PromptTemplate, RegexEntityExtractor}
import graft.model.Document

class EmbedLlmSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  test("HashEmbedder: deterministic, unit-norm, overlap-sensitive") {
    val e = new HashEmbedder(32)
    val Seq(a, b, c) = e.embed(Seq("spark query engine", "spark query engine", "unrelated banana"))
    assert(a.toSeq == b.toSeq)
    val norm = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-6)
    def cos(x: Array[Float], y: Array[Float]) = x.zip(y).map { case (p, q) => p * q }.sum
    assert(cos(a, b) > cos(a, c))
  }

  test("embed fills embedding via mapPartitions batches") {
    val docs = (0 until 10).map(i => Document.of(s"d$i", text = s"text $i"))
    val out = DocSet.of(spark, docs).embed(new HashEmbedder(16), batchSize = 3).takeAll()
    assert(out.forall(_.embedding.exists(_.length == 16)))
  }

  test("AsyncLlmClient preserves order and matches the sequential results") {
    val base = new FakeLlmClient("echo:64")
    val prompts = (0 until 50).map(i => s"prompt number $i with some payload")
    val async = new AsyncLlmClient(base, concurrency = 7)
    assert(async.generateBatch(prompts) == base.generateBatch(prompts))
  }

  test("AsyncLlmClient overlaps latency-bound requests ~concurrency-fold") {
    val slow: LlmClient = new LlmClient {
      override def generate(prompt: String): String = { Thread.sleep(60); s"ok:$prompt" }
    }
    val prompts = (0 until 16).map(i => s"p$i")
    val t0 = System.nanoTime()
    val out = new AsyncLlmClient(slow, concurrency = 8).generateBatch(prompts)
    val asyncMs = (System.nanoTime() - t0) / 1e6
    assert(out == prompts.map(p => s"ok:$p"))
    // sequential is >= 16 * 60 = 960 ms by construction; 8-way overlap needs
    // only two 60 ms waves — generous bound to stay noise-proof
    assert(asyncMs < 600, s"async batch took $asyncMs ms, expected ~120")
  }

  test("llmMap through AsyncLlmClient equals the sync client output") {
    val docs = (0 until 20).map(i => Document.of(s"d$i", text = s"text body $i"))
    def run(c: LlmClient) =
      DocSet.of(spark, docs).llmMap(c, "{doc_id}: {text_representation}", "properties.out")
        .takeAll().map(d => d.docId -> d.prop("out")).toMap
    assert(run(new AsyncLlmClient(new FakeLlmClient("echo:64"), 4)) ==
      run(new FakeLlmClient("echo:64")))
  }

  test("PromptTemplate renders dotted fields") {
    val d = Document.of("d1", text = "hello", properties = Map("entity.loc" -> "Atlanta"))
    assert(PromptTemplate.render("{doc_id}: {text_representation} @ {properties.entity.loc}", d)
      == "d1: hello @ Atlanta")
    assert(PromptTemplate.render("{missing}", d) == "")
  }

  test("llmMap / llmFilter / summarize with deterministic fake") {
    val docs = (0 until 8).map(i => Document.of(s"d$i", text = s"content $i"))
    val ds = DocSet.of(spark, docs)
    val mapped = ds.llmMap(new FakeLlmClient("echo:9"), "{text_representation}",
      "properties.out").takeAll()
    assert(mapped.forall(d => d.prop("out").exists(_.startsWith("content"))))

    val kept = ds.llmFilter(new FakeLlmClient("score"), "rate {text_representation}", 2)
    val scores = docs.map(d => new FakeLlmClient("score").generate(s"rate ${d.text}").toInt)
    assert(kept.count() == scores.count(_ >= 2))

    val sum = ds.limit(1).summarize(new FakeLlmClient("echo:10")).takeAll().head
    assert(sum.prop("summary").exists(_.startsWith("Summarize:")))
  }

  test("entity extractors: regex and LLM-backed") {
    val docs = Seq(Document.of("d1", text = "incident at Atlanta airport on runway"))
    val rex = DocSet.of(spark, docs)
      .extractEntity(new RegexEntityExtractor("city", "at ([A-Z][a-z]+)"))
      .takeAll().head
    assert(rex.prop("city").contains("Atlanta"))
    val lex = DocSet.of(spark, docs)
      .extractEntity(new LlmEntityExtractor(new FakeLlmClient("extract"), "entity",
        "find entity in {text_representation}"))
      .takeAll().head
    assert(lex.prop("entity").contains("Atlanta"))
  }

  test("rerank orders by scorer desc") {
    val docs = Seq(
      Document.of("d1", text = "spark spark spark"),
      Document.of("d2", text = "nothing relevant"),
      Document.of("d3", text = "spark once"))
    def overlap(q: String, t: String): Double = {
      val qs = q.split(" ").toSet
      t.split(" ").count(qs.contains).toDouble
    }
    val ranked = DocSet.of(spark, docs).rerank(overlap, "spark").takeAll()
    assert(ranked.map(_.docId) == Seq("d1", "d3", "d2"))
  }

  test("kmeans + clustering assign clusters over embeddings") {
    val docs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) "alpha beta gamma delta" else "omega psi chi phi"
      Document.of(s"d$i", text = base + s" ${i % 2}")
    }
    val ds = DocSet.of(spark, docs).embed(new HashEmbedder(16))
    val centroids = ds.kmeans(2, maxIter = 5)
    assert(centroids.size == 2)
    val assigned = ds.clustering(centroids).takeAll()
    val byText = assigned.groupBy(_.text.startsWith("alpha")).view.mapValues(
      _.flatMap(_.prop("cluster")).toSet).toMap
    assert(byText(true).size == 1 && byText(false).size == 1 && byText(true) != byText(false))
  }

  test("kmeans with k above the embedded-doc count: at most that many centroids") {
    val three = DocSet.of(spark, Seq("alpha beta gamma", "omega psi chi", "spark query plan")
      .zipWithIndex.map { case (t, i) => Document.of(s"d$i", text = t) })
      .embed(new HashEmbedder(16))
    val c3 = three.kmeans(5)
    assert(c3.nonEmpty && c3.size <= 3)
    assert(three.clustering(c3).takeAll().forall(_.prop("cluster").isDefined))
    // no embedded docs at all: no centroids, and clustering assigns nothing
    val none = DocSet.of(spark, Seq(Document.of("n0", text = "not embedded")))
    val c0 = none.kmeans(5)
    assert(c0.isEmpty)
    assert(none.clustering(c0).takeAll().forall(_.prop("cluster").isEmpty))
  }
}
