package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.dedup.Dedup
import graft.embed.HashEmbedder
import graft.plan._

/**
 * One interactive client in a closed loop over a corpus ingested before
 * the loop. Each question goes LlmPlanner.plan -> QueryExecutor.execute
 * (with a cacheDir) -> answer. Every 15th op, from the first, is an append instead:
 * Dedup.dedupIncrement against the stored fingerprints, then an append to
 * the store; every second append is a client retry of the previous batch,
 * so dedup must drop all of it. A QueryExecutor memoizes source
 * fingerprints for its lifetime, so the client starts a new one after each
 * append that wrote rows, over the same cacheDir.
 *
 * Question mix (see Cycle): filter+count 30%, topK 15%, vector search
 * 15%, IVF kNN 10%, field_in 10%, llm_filter 10%, summarize 5%, kmeans 5%;
 * 25% of the questions repeat an earlier one verbatim.
 */
final class QueryMix(work: String, seed: Long, scale: String, corrupt: Boolean) extends Workload {
  import QueryMix._

  private val n = if (scale == "tiny") 300 else 1500
  private val inputDir = s"$work/inputs/query_mix-s$seed-$scale"
  private val store = s"$work/store/query_mix/docs"
  private val fps = s"$work/store/query_mix/fingerprints"
  private val index = s"$work/store/query_mix/ivf"
  private val cacheDir = s"$work/store/query_mix/cache"
  private val llm = new BenchLlm
  private val planner = new LlmPlanner(llm, Map("docs" -> Seq(
    "doc_id", "text", "lang", "source", "category", "year", "embedding")))
  private var centroids: Array[Array[Double]] = Array.empty

  // the client's view of the stored corpus, for known answers
  private val live = mutable.ArrayBuffer.tabulate(n)(i => attrs(seed, i))
  private val asked = mutable.ArrayBuffer[Question]()
  private val appended = mutable.Set[Int]()
  private var appends = 0
  private var executor: QueryExecutor = _
  private val executors = mutable.ArrayBuffer[QueryExecutor]()
  private val latency = mutable.ArrayBuffer[(String, Double)]()
  private val answers = mutable.ArrayBuffer[String]()
  private var plans = 0L
  private var planCalls = 0L

  def prepare(spark: SparkSession): Unit = {
    val (s, size) = (seed, n)
    import spark.implicits._
    if (!Files.exists(Paths.get(inputDir, "_DONE"))) {
      spark.range(0, size, 1, 4).as[Long].mapPartitions(it => rows(s, it.map(_.toInt)))
        .toDF(Columns: _*).write.mode("overwrite").parquet(s"$inputDir/corpus")
      spark.range(0, AppendBatches * BatchRows, 1, 4).as[Long]
        .mapPartitions(it => appendRows(s, size, it.map(_.toInt)))
        .toDF(("batch" +: Columns): _*).write.mode("overwrite").parquet(s"$inputDir/appends")
      Files.write(Paths.get(inputDir, "_DONE"), Array[Byte]())
    }
    Main.deleteTree(s"$work/store/query_mix")
    spark.read.parquet(s"$inputDir/corpus").write.parquet(store)
    info("docs") = n
    info("append_rows") = BatchRows
  }

  override def setUp(spark: SparkSession): Unit = {
    val docs = spark.read.parquet(store)
    centroids = Ann.sampleCentroids(docs, "doc_id", "embedding", NList)
    Ann.buildIvfIndex(docs, "embedding", centroids, index)
    Dedup.fingerprints(docs, "doc_id", "text").write.mode("overwrite").parquet(fps)
    executor = newExecutor(spark, cacheDir)
  }

  /** One question of each type on a throwaway cache, then one dedup. */
  def warmUp(spark: SparkSession): Unit = {
    val warm = newExecutor(spark, s"$cacheDir-warm")
    val r = Gen.rng(seed + 1, 70, 0)
    for (t <- Types)
      answer(spark, question(t, r), warm, new Tracer(spark, on = false))
    Dedup.dedupIncrement(batch(spark, 0), "doc_id", "text", spark.read.parquet(fps))
      .select("doc_id").collect()
  }

  /** The first 17 ops hold both kinds of append (a new batch first, its
    * retry at op 15) and the first 15 slots of the cycle, every type. */
  override def minOps: Int = 17

  /** The client reads the table once per data version, as a user
    * registering a table would. */
  private def newExecutor(spark: SparkSession, dir: String): QueryExecutor = {
    val docs = spark.read.parquet(store)
    val e = new QueryExecutor(spark, llm, _ => docs, cacheDir = Some(dir),
      embedder = new HashEmbedder(EmbedDim))
    if (dir == cacheDir) executors += e
    e
  }

  private def batch(spark: SparkSession, b: Int): DataFrame =
    spark.read.parquet(s"$inputDir/appends").where(col("batch") === b).drop("batch")

  def op(spark: SparkSession, i: Int, tr: Tracer): Op = {
    if (i % AppendEvery == 0) append(spark, tr, corrupt && i == 0)
    else {
      val (kind, back) = Cycle(asked.size % Cycle.size)
      val q = if (back > 0) asked(asked.size - back) else question(kind, Gen.rng(seed, 50, asked.size))
      asked += q
      val t0 = System.nanoTime
      val got = answer(spark, q, executor, tr)
      val ms = Main.secs(t0) * 1000
      latency += ((q.kind, ms))
      answers += s"${q.text}|$got"
      val ok = matches(q, got) && !(corrupt && i == 0)
      Op(q.kind, ms, 0, ok)
    }
  }

  /** Question -> answer, rendered as a string that `matches` checks. */
  private def answer(spark: SparkSession, q: Question, ex: QueryExecutor, tr: Tracer): String =
    tr.span("plan.run") {
      val calls0 = BenchLlm.calls.get
      val plan = tr.span("plan.plan")(planner.plan(q.text))
      plans += 1; planCalls += BenchLlm.calls.get - calls0
      val value = tr.span("plan.build")(ex.execute(plan))
      (q.kind, value) match {
        case (_, QNumV(v)) => v.toLong.toString
        case (_, QStrV(s)) => s
        case ("knn", QDocs(ds)) =>
          val v = ds.take(1).head.embedding.get.map(_.toDouble).toSeq
          val ids = tr.span("ann.search")(Ann.ivfTopKIndexed(spark, index, "doc_id", "embedding",
            centroids, v, 5, NProbe).collect().map(_.getString(0)))
          ids.head
        case ("vector", QDocs(ds)) => ds.takeAll().head.docId
        case (_, QDocs(ds)) => ds.takeAll().map(d =>
            d.properties("key") + "=" + d.properties("count")).sorted.mkString(",")
        case (_, other) => other.toString
      }
    }

  /** Known answer of `q` over the stored corpus as it is now. */
  private def matches(q: Question, got: String): Boolean = {
    def count(p: Attrs => Boolean) = live.count(p).toString
    def pairs = got.split(",").toSeq.filter(_.nonEmpty).map { kv =>
      val Array(k, c) = kv.split("="); k -> c.toInt }
    q.kind match {
      case "filter_count" => got == count(a => a.category == q.category && a.year >= q.year)
      case "field_in" =>
        val srcs = live.filter(a => a.lang == q.lang && a.year >= q.year).map(_.source).toSet
        got == count(a => a.category == q.category && srcs(a.source))
      case "llm_filter" =>
        got == count(a => a.category == q.category && BenchLlm.relevant(a.source))
      case "summarize" =>
        val n = live.count(a => a.category == q.category && a.lang == q.lang)
        got == s"${math.min(100, n)} documents considered."
      case "vector" | "knn" => got == f"q${q.doc}%07d"
      case "topk" =>
        // ties at the cut make the key set ambiguous, so check each key's count
        val counts = live.filter(_.lang == q.lang).groupBy(_.source).map { case (s, xs) => s -> xs.size }
        val top = counts.values.toSeq.sorted.reverse.take(3)
        pairs.map(_._2).sorted.reverse == top && pairs.forall { case (k, c) => counts.get(k).contains(c) }
      case "kmeans" =>
        pairs.size <= 4 && pairs.map(_._2).sum == live.count(a => a.lang == q.lang && a.category == q.category)
    }
  }

  private def question(kind: String, r: java.util.SplittableRandom): Question = {
    val cat = s"cat-${r.nextInt(Categories)}"
    val lang = Langs(r.nextInt(3))
    val year = 2000 + r.nextInt(20)
    val doc = r.nextInt(n)
    val q = kind match {
      case "filter_count" => Question(kind, s"How many $cat documents are from $year or later?",
        plan(source(Seq(term("category", cat), range("year", year))), """{"node_type": "Count"}"""),
        cat, lang, year, doc)
      case "topk" => Question(kind, s"What are the top 3 sources of $lang documents?",
        plan(source(Seq(term("lang", lang))), """{"node_type": "TopK", "field": "properties.source",
          | "K": 3, "descending": true, "llm_cluster": false}""".stripMargin), cat, lang, year, doc)
      case "vector" => Question(kind, s"Which documents are about: ${text(seed, doc)}",
        s"""{"result_node": 0, "nodes": {"0": {"node_type": "QueryVectorDatabase", "node_id": 0,
           | "inputs": [], "index": "docs", "query_phrase": "${text(seed, doc)}", "K": 5}}}""".stripMargin,
        cat, lang, year, doc)
      case "knn" => Question(kind, f"Which documents are nearest to q$doc%07d?",
        s"""{"result_node": 0, "nodes": {"0": ${source(Seq(term("doc_id", f"q$doc%07d")))}}}""",
        cat, lang, year, doc)
      case "field_in" => Question(kind,
        s"How many $cat documents share a source with $lang documents from $year on?",
        s"""{"result_node": 3, "nodes": {"0": ${source(Seq(term("category", cat)))},
           | "1": ${source(Seq(term("lang", lang), range("year", year)), 1)},
           | "2": {"node_type": "FieldIn", "node_id": 2, "inputs": [0, 1],
           |       "field_one": "properties.source", "field_two": "properties.source"},
           | "3": {"node_type": "Count", "node_id": 3, "inputs": [2]}}}""".stripMargin,
        cat, lang, year, doc)
      case "llm_filter" => Question(kind, s"How many $cat documents come from a reliable source?",
        s"""{"result_node": 2, "nodes": {"0": ${source(Seq(term("category", cat)))},
           | "1": {"node_type": "LlmFilter", "node_id": 1, "inputs": [0],
           |       "field": "properties.source", "question": "Is this source reliable?"},
           | "2": {"node_type": "Count", "node_id": 2, "inputs": [1]}}}""".stripMargin,
        cat, lang, year, doc)
      case "summarize" => Question(kind, s"Summarize the $cat documents in $lang.",
        plan(source(Seq(term("category", cat), term("lang", lang))),
          s"""{"node_type": "SummarizeData", "question": "Summarize the $cat documents in $lang."}"""),
        cat, lang, year, doc)
      case "kmeans" => Question(kind, s"Cluster the $lang $cat documents into 4 groups.",
        s"""{"result_node": 3, "nodes": {"0": ${source(Seq(term("lang", lang), term("category", cat)))},
           | "1": {"node_type": "KMeanClustering", "node_id": 1, "inputs": [0],
           |       "new_field": "cluster", "K": 4},
           | "2": {"node_type": "GroupBy", "node_id": 2, "inputs": [1], "field": "properties.cluster"},
           | "3": {"node_type": "AggregateCount", "node_id": 3, "inputs": [2]}}}""".stripMargin,
        cat, lang, year, doc)
    }
    BenchLlm.plans.put(q.text, q.plan)
    q
  }

  /** Appends alternate: a new batch, then a client retry of that same batch,
    * which holds only documents the store already has. */
  private def append(spark: SparkSession, tr: Tracer, corrupted: Boolean): Op = {
    val retry = appends % 2 == 1
    val b = appends / 2 % AppendBatches
    appends += 1
    val t0 = System.nanoTime
    val rows = batch(spark, b)
    val kept = tr.span("dedup.increment") {
      val ids = Dedup.dedupIncrement(rows, "doc_id", "text", spark.read.parquet(fps))
        .select("doc_id").collect().map(_.getString(0))
      tr.rows(ids.length)
      ids
    }
    if (kept.nonEmpty) tr.span("sources.append") {
      val keep = rows.where(col("doc_id").isin(kept: _*))
      keep.write.mode("append").parquet(store)
      Dedup.fingerprints(keep, "doc_id", "text").write.mode("append").parquet(fps)
      tr.rows(kept.length)
    }
    val ms = Main.secs(t0) * 1000
    val want = (if (appended(b)) 0 else BatchRows) + (if (corrupted) 1 else 0)
    if (kept.nonEmpty) {
      appended += b
      live ++= kept.map(id => attrs(seed, id.drop(1).toInt))
      executor = newExecutor(spark, cacheDir)
    }
    // a retry's rows are fully processed too: dedup drops every one
    if (retry) Op("append_retry", ms, BatchRows, ok = kept.isEmpty)
    else Op("append", ms, BatchRows, ok = kept.length == want)
  }

  def finish(spark: SparkSession, ops: Seq[Op]): Unit = {
    val repeats = asked.indices.count(k => Cycle(k % Cycle.size)._2 > 0)
    info("questions") = ops.count(o => !o.kind.startsWith("append"))
    info("appends") = ops.count(o => o.kind.startsWith("append"))
    info("repeat_share") = repeats.toDouble / math.max(1, ops.count(o => !o.kind.startsWith("append")))
    info("stored_docs") = live.size
    info("digest") = java.lang.Long.toHexString(answers.take(DigestQuestions)
      .map(a => scala.util.hashing.MurmurHash3.stringHash(a) & 0xffffffffL).foldLeft(0L)(_ ^ _))
    info("digest_questions") = math.min(DigestQuestions, answers.size)
  }

  def extras(tr: Tracer): Seq[(String, Double, String)] = {
    val hits = executors.map(_.cacheHits).sum
    val misses = executors.map(_.cacheMisses).sum
    Seq(
      ("plan.plan.llm_calls_per_plan", planCalls.toDouble / math.max(1, plans), "calls"),
      ("plan.build.jobs", tr.jobs("plan.build").toDouble, "count"),
      ("plan.run.jobs", tr.jobs("plan.run").toDouble, "count"),
      ("dedup.increment.join_rows", tr.joinRows("dedup.increment").toDouble, "rows"),
      ("plan.cache_hit_ratio", if (hits + misses == 0) 0.0 else hits.toDouble / (hits + misses), "ratio")
    ) ++ Types.map { t =>
      (s"plan.run.p50_ms.$t", Main.median(latency.filter(_._1 == t).map(_._2).toSeq), "ms")
    }
  }
}

object QueryMix {
  val Types = Seq("filter_count", "topk", "vector", "knn", "field_in", "llm_filter", "summarize", "kmeans")

  /** The question order, repeated: 20 slots in the stated mix. A slot
    * (kind, k) with k > 0 repeats verbatim the question asked k slots
    * earlier (5 of 20). The order is fixed so every run sees the same mix:
    * the first 15 slots, which every run covers, hold every type. */
  val Cycle: Seq[(String, Int)] = Seq(
    "filter_count" -> 0, "vector" -> 0, "filter_count" -> 0, "topk" -> 0, "filter_count" -> 4,
    "llm_filter" -> 0, "knn" -> 0, "vector" -> 0, "filter_count" -> 0, "kmeans" -> 0,
    "llm_filter" -> 5, "filter_count" -> 3, "vector" -> 5, "field_in" -> 0, "summarize" -> 0,
    "filter_count" -> 0, "topk" -> 0, "field_in" -> 0, "knn" -> 0, "topk" -> 3)
  val Langs = Seq("en", "de", "fr", "es", "ja", "zh")
  val Categories = 12
  val EmbedDim = 64
  val NList = 16
  val NProbe = 3
  val AppendBatches = 4
  val AppendEvery = 15
  val BatchRows = 40
  val DigestQuestions = 60
  val Columns = Seq("doc_id", "text", "lang", "source", "category", "year", "embedding")

  final case class Attrs(lang: String, source: String, category: String, year: Int)
  final case class Question(kind: String, text: String, plan: String,
                            category: String, lang: String, year: Int, doc: Int)

  def attrs(seed: Long, i: Int): Attrs = {
    val r = Gen.rng(seed, 40, i)
    Attrs(Langs(Gen.skewed(r.nextDouble(), Langs.size)), s"src-${Gen.skewed(r.nextDouble(), 40)}",
      s"cat-${r.nextInt(Categories)}", 2000 + r.nextInt(24))
  }

  /** One line of Zipf text; quotes never occur, so it embeds in plan JSON. */
  def text(seed: Long, i: Int): String = {
    val r = Gen.rng(seed, 41, i)
    "of the " + Gen.words(r, Gen.longTail(r, 60, 30, 200))
  }

  type Row7 = (String, String, String, String, String, Int, Array[Float])

  def rows(seed: Long, ids: Iterator[Int]): Iterator[Row7] = {
    val emb = new HashEmbedder(EmbedDim)
    ids.grouped(64).flatMap { g =>
      val texts = g.map(i => text(seed, i))
      g.zip(texts).zip(emb.embed(texts)).map { case ((i, t), v) =>
        val a = attrs(seed, i)
        (f"q$i%07d", t, a.lang, a.source, a.category, a.year, v)
      }
    }
  }

  def appendRows(seed: Long, n: Int, ks: Iterator[Int]): Iterator[(Int, String, String, String, String, String, Int, Array[Float])] =
    rows(seed, ks.map(n + _)).map(r =>
      ((r._1.drop(1).toInt - n) / BatchRows, r._1, r._2, r._3, r._4, r._5, r._6, r._7))

  private def term(f: String, v: String) = s"""{"term": {"$f": "$v"}}"""
  private def range(f: String, from: Int) = s"""{"range": {"$f": {"gte": $from}}}"""

  private def source(must: Seq[String], id: Int = 0): String =
    s"""{"node_type": "QueryDatabase", "node_id": $id, "inputs": [], "index": "docs",
       | "query": {"bool": {"must": [${must.mkString(", ")}]}}}""".stripMargin

  /** Two-node plan: a source and one operator on it. */
  private def plan(src: String, op: String): String =
    s"""{"result_node": 1, "nodes": {"0": $src,
       | "1": ${op.dropRight(1)}, "node_id": 1, "inputs": [0]}}}""".stripMargin
}
