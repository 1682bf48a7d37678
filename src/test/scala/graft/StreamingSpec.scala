package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.docset.DocSet
import graft.streaming.DocStream

/** JVM-static sink buffer: foreachBatch closures are serialized, so
  * recorded state must live on a static object. */
object NearDupSink {
  val kept = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** Structured Streaming extension (SURVEY §2.11): the same DocSet verbs run
  * over streaming inputs; windowed aggregation with watermark. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  test("DocSet verbs run unchanged over a streaming source") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = DocStream.fromStreamingDf(
      input.toDF().toDF("doc_id", "text"), Some("doc_id"), Some("text"))
    // the same per-doc pipeline batch uses: filter + map + term frequency
    val out = docs
      .filter(_.text.contains("keep"))
      .withProperty("len", d => d.text.length.toString)
    val query = out.toDF.writeStream.format("memory").queryName("stream_docs")
      .outputMode("append").start()
    try {
      input.addData((1L, "keep me"), (2L, "drop me"), (3L, "also keep"))
      query.processAllAvailable()
      val rows = spark.sql("SELECT docId, properties['len'] FROM stream_docs")
        .as[(String, String)].collect().toSet
      assert(rows == Set(("1", "7"), ("3", "9")))
    } finally query.stop()
  }

  test("quality-filter expressions run unchanged in the continuous pipeline") {
    // the published filters are plain codegen'd expressions, so the
    // streaming ingest path gets them for free — prove it end-to-end
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.functions.gf
    val input = MemoryStream[(Long, String)]
    val good = (1 to 30).map(_ => "the quick fox is glad to be here with friends.").mkString(" ")
    val scored = input.toDF().toDF("doc_id", "text")
      .select(col("doc_id"),
        gf.fixMojibake(col("text")).as("text"))
      .select(col("doc_id"), col("text"),
        gf.gopherKeep(col("text")).as("gopher_ok"),
        gf.c4Keep(col("text")).as("c4_ok"))
    val query = scored.writeStream.format("memory").queryName("stream_quality")
      .outputMode("append").start()
    try {
      input.addData((1L, good), (2L, "### #spam..."),
        (3L, "caf" + new String("é".getBytes("UTF-8"), "windows-1252") + " " + good))
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT doc_id, gopher_ok, c4_ok, contains(text, 'café') FROM stream_quality")
        .as[(Long, Boolean, Boolean, Boolean)].collect().sortBy(_._1)
      assert(rows(0) == ((1L, true, true, false)))
      assert(rows(1)._2 == false && rows(1)._3 == false)
      assert(rows(2)._2 && rows(2)._4, s"mojibake repaired mid-stream: ${rows(2)}")
    } finally query.stop()
  }

  test("round-10 filters run unchanged mid-stream: A1.2 repetition keep + DSIR + classifier scoring") {
    // all three are stateless row maps (codegen'd expression / broadcast
    // UDF), so the streaming path must accept them verbatim
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.functions.gf
    val input = MemoryStream[(Long, String)]
    val dsirTable = Array.tabulate(1 << 10)(i => (i % 5).toLong - 2)
    val coef = Array.tabulate(1 << 12)(i => ((i % 9) - 4).toLong)
    val base = input.toDF().toDF("doc_id", "text")
    val scored = graft.operators.QualityClassifier.marginMicros(
        graft.operators.Dsir.scoreMicros(base, "text", dsirTable),
        "text", coef, 0L)
      .select(col("doc_id"), gf.repetitionKeepText(col("text")).as("rep_ok"),
        col("dsir_micros"), col("margin_micros"))
    val query = scored.writeStream.format("memory").queryName("stream_r10")
      .outputMode("append").start()
    try {
      val spam = ("buy now " * 40).trim
      input.addData((1L, "every word here is different so nothing repeats at all today"),
        (2L, spam))
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT doc_id, rep_ok, dsir_micros, margin_micros FROM stream_r10")
        .as[(Long, Boolean, Long, Long)].collect().sortBy(_._1)
      assert(rows(0)._2, "clean text passes A1.2 mid-stream")
      assert(!rows(1)._2, "repeated bigram spam fails A1.2 mid-stream")
      // batch-vs-stream equality for the scoring paths
      val batch = graft.operators.QualityClassifier.marginMicros(
          graft.operators.Dsir.scoreMicros(
            Seq((1L, "every word here is different so nothing repeats at all today"),
              (2L, spam)).toDF("doc_id", "text"), "text", dsirTable),
          "text", coef, 0L)
        .select("doc_id", "dsir_micros", "margin_micros")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      assert(rows.map(r => (r._1, r._3, r._4)).toSeq == batch.toSeq)
    } finally query.stop()
  }

  test("windowed counts with watermark bound state") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = DocStream.fromStreamingDf(
      input.toDF().toDF("doc_id", "kind", "ts"), Some("doc_id"))
    val counted = DocStream.countByWindow(docs,
      timeProperty = "properties.ts", keyProperty = "properties.kind",
      windowDuration = "1 hour", watermarkDelay = "10 minutes")
    val query = counted.writeStream.format("memory").queryName("stream_counts")
      .outputMode("complete").start()
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
      input.addData((1L, "a", ts(10, 5)), (2L, "a", ts(10, 40)), (3L, "b", ts(11, 5)))
      query.processAllAvailable()
      val rows = spark.sql("SELECT key, count FROM stream_counts")
        .as[(String, Long)].collect().toSet
      assert(rows == Set(("a", 2L), ("b", 1L)))
    } finally query.stop()
  }

  test("stateful sessionization: in-batch gap close + watermark timeout close") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val sessions = DocStream.sessionizeStream(
      input.toDF().toDF("user", "ts"), "user", "ts",
      gapMs = 10 * 60 * 1000L, watermarkDelay = "5 minutes")
    val query = sessions.toDF.writeStream.format("memory").queryName("stream_sessions")
      .outputMode("append").start()
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
      // one batch, one user: 10:00+10:05 cluster, then 11:00 — the first
      // session must close IN-BATCH on the 55-minute gap
      input.addData(("u1", ts(10, 0)), ("u1", ts(10, 5)), ("u1", ts(11, 0)))
      query.processAllAvailable()
      val afterB1 = spark.sql("SELECT key, n_events FROM stream_sessions")
        .as[(String, Long)].collect().toSet
      assert(afterB1 == Set(("u1", 2L)))
      // a far-future event lifts the watermark (to 14:55, at batch END);
      // the next trigger then fires u1's event-time timeout
      input.addData(("u2", ts(15, 0)))
      query.processAllAvailable()
      input.addData(("u2", ts(15, 1)))
      query.processAllAvailable()
      val rows = spark.sql("SELECT key, n_events FROM stream_sessions")
        .as[(String, Long)].collect().toSet
      assert(rows.contains(("u1", 1L)), s"open session not closed by timeout: $rows")
      val u1 = spark.sql(
        "SELECT CAST(start AS STRING), CAST(end AS STRING) FROM stream_sessions " +
        "WHERE key = 'u1' AND n_events = 2").as[(String, String)].collect().head
      assert(u1 == ("2026-01-01 10:00:00", "2026-01-01 10:05:00"))
    } finally query.stop()
  }

  test("sessionization: a late in-gap event extends the session start backwards") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val sessions = DocStream.sessionizeStream(
      input.toDF().toDF("user", "ts"), "user", "ts",
      gapMs = 10 * 60 * 1000L, watermarkDelay = "30 minutes")
    val query = sessions.toDF.writeStream.format("memory").queryName("stream_late")
      .outputMode("append").start()
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
      input.addData(("u1", ts(10, 10)))
      query.processAllAvailable()
      // late but in-gap (10:07 within 10 min of the open [10:10,10:10])
      input.addData(("u1", ts(10, 7)))
      query.processAllAvailable()
      // close by timeout: far-future watermark lift + one more trigger
      input.addData(("u2", ts(12, 0)))
      query.processAllAvailable()
      input.addData(("u2", ts(12, 1)))
      query.processAllAvailable()
      val u1 = spark.sql(
        "SELECT CAST(start AS STRING), n_events FROM stream_late WHERE key = 'u1'")
        .as[(String, Long)].collect().toSet
      assert(u1 == Set(("2026-01-01 10:07:00", 2L)), s"got $u1")
    } finally query.stop()
  }

  test("stream-stream interval join matches within the band across micro-batches") {
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = DocStream.joinWithinInterval(
      clicks.toDF().toDF("click_id", "user", "cts"),
      buys.toDF().toDF("buy_id", "buser", "bts").withColumnRenamed("buser", "user"),
      keys = Seq("user"), lTime = "cts", rTime = "bts",
      widthSec = 60, watermarkDelay = "2 minutes")
    val query = joined
      .select(col("click_id"), col("buy_id"))
      .writeStream.format("memory").queryName("stream_ij")
      .outputMode("append").start()
    try {
      def ts(m: Int, s: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:$s%02d")
      // batch 1: click at 10:00:30 for u1
      clicks.addData((1L, 1L, ts(0, 30)))
      query.processAllAvailable()
      // batch 2: purchases — one inside the 60s band, one outside, one other user
      buys.addData((10L, 1L, ts(1, 0)), (11L, 1L, ts(5, 0)), (12L, 2L, ts(0, 40)))
      query.processAllAvailable()
      // batch 3: a later click joining an ALREADY BUFFERED purchase
      clicks.addData((2L, 2L, ts(0, 50)))
      query.processAllAvailable()
      val rows = spark.sql("SELECT click_id, buy_id FROM stream_ij")
        .as[(Long, Long)].collect().toSet
      assert(rows == Set((1L, 10L), (2L, 12L)))
    } finally query.stop()
  }

  test("streaming exact dedup drops in-watermark duplicates") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = DocStream.fromStreamingDf(
      input.toDF().toDF("doc_id", "text", "ts"), Some("doc_id"), Some("text"))
    val deduped = DocStream.dedupExactStream(docs,
      timeProperty = "properties.ts", watermarkDelay = "10 minutes")
    val query = deduped.toDF.writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
      input.addData((1L, "same text", ts(0)), (2L, "same text", ts(1)),
        (3L, "other text", ts(2)))
      query.processAllAvailable()
      // duplicate in a later micro-batch is caught by the dedup state too
      input.addData((4L, "same text", ts(3)), (5L, "third text", ts(4)))
      query.processAllAvailable()
      val kept = spark.sql("SELECT docId FROM stream_dedup")
        .as[String].collect().toSet
      assert(kept == Set("1", "3", "5"))
    } finally query.stop()
  }

  test("streaming near-dup dedup: signature log carries drops across micro-batches") {
    implicit val sq = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("neardup").toString
    val input = MemoryStream[(Long, String)]
    val docs = DocStream.fromStreamingDf(
      input.toDF().toDF("doc_id", "text"), Some("doc_id"), Some("text"))
    val base = "the quick brown fox jumps over the lazy dog near the old river bank"
    val writer = DocStream.dedupNearStream(docs, s"$tmp/sigs", s"$tmp/ckpt",
        shingleSize = 3, bands = 8, threshold = 0.3) { kept =>
      kept.toDF.select("docId").collect()
        .foreach(r => NearDupSink.kept.add(r.getString(0)))
    }
    val query = writer.start()
    try {
      // batch 1: 1 and 2 are near-dups (greedy keeps 1); 3 unrelated
      input.addData((1L, base), (2L, base.replace("river", "creek")),
        (3L, "completely different text about query engines and planners"))
      query.processAllAvailable()
      // batch 2: 4 is a near-dup of KEPT doc 1 (cross-batch drop);
      // 5 is new and survives
      input.addData((4L, base.replace("lazy", "sleepy")),
        (5L, "another unrelated document discussing tokenizers and corpora"))
      query.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(NearDupSink.kept.asScala.toSet == Set("1", "3", "5"))
    } finally query.stop()
  }

  test("sessionization: consecutive stragglers sessionize together, not as singletons") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val sessions = DocStream.sessionizeStream(
      input.toDF().toDF("user", "ts"), "user", "ts",
      gapMs = 10 * 60 * 1000L, watermarkDelay = "60 minutes")
    val query = sessions.toDF.writeStream.format("memory").queryName("stream_stragglers")
      .outputMode("append").start()
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
      input.addData(("u1", ts(10, 10)))
      query.processAllAvailable()
      // two stragglers 1 minute apart, both > gap before the open session:
      // ONE two-event session, closed when the open session stays separate
      input.addData(("u1", ts(9, 50)), ("u1", ts(9, 51)))
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT CAST(start AS STRING), CAST(end AS STRING), n_events FROM stream_stragglers")
        .as[(String, String, Long)].collect().toSet
      assert(rows == Set(("2026-01-01 09:50:00", "2026-01-01 09:51:00", 2L)), s"got $rows")
    } finally query.stop()
  }

  test("near-dup batch keeps ALL null-text documents (no signature, no silent drop)") {
    import graft.model.Document
    val tmp = java.nio.file.Files.createTempDirectory("nulltext").toString
    // several binary docs in ONE batch: all null signatures must be kept —
    // the LSH group-by once collapsed them onto a single survivor
    val docs = DocSet.wrap(spark.createDataset(Seq(
      Document.of("text-doc", text = "alpha beta gamma delta"),
      Document.of("binary-doc").copy(binaryRepresentation = Some(Array[Byte](1, 2, 3))),
      Document.of("binary-doc2").copy(binaryRepresentation = Some(Array[Byte](4, 5))),
      Document.of("binary-doc3").copy(binaryRepresentation = Some(Array[Byte](6)))
    ))(DocSet.docEnc))
    val kept = DocStream.dedupNearBatch(docs, s"$tmp/sigs", shingleSize = 3)
      .toDF.select("docId").as[String].collect().toSet
    assert(kept == Set("text-doc", "binary-doc", "binary-doc2", "binary-doc3"))
    // the batch operator itself has the same contract
    val batchKept = graft.dedup.Dedup.minhashLsh(
      docs.toDF, "docId", "textRepresentation", shingleSize = 3)
      .select("docId").as[String].collect().toSet
    assert(batchKept == Set("text-doc", "binary-doc", "binary-doc2", "binary-doc3"),
      "batch minhashLsh must keep every non-comparable (null-signature) doc")
  }

  test("streaming exact dedup passes null-text (binary) documents through undeduplicated") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = DocStream.fromStreamingDf(
      input.toDF().toDF("doc_id", "text", "ts"), Some("doc_id"), Some("text"))
    val deduped = DocStream.dedupExactStream(docs,
      timeProperty = "properties.ts", watermarkDelay = "10 minutes")
    val query = deduped.toDF.writeStream.format("memory").queryName("stream_dedup_null")
      .outputMode("append").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
      // two null-text docs must BOTH pass (hashing null would alias every
      // binary doc onto one state key); duplicates of real text still drop
      input.addData((1L, null, ts(0)), (2L, null, ts(1)),
        (3L, "same text", ts(2)), (4L, "same text", ts(3)))
      query.processAllAvailable()
      val kept = spark.sql("SELECT docId FROM stream_dedup_null")
        .as[String].collect().toSet
      assert(kept == Set("1", "2", "3"))
    } finally query.stop()
  }

  test("near-dup batch retry is idempotent: a replayed batch keeps its own documents") {
    import graft.model.Document
    val tmp = java.nio.file.Files.createTempDirectory("retry").toString
    val docs = DocSet.wrap(spark.createDataset(Seq(
      Document.of("a", text = "alpha beta gamma delta epsilon zeta"),
      Document.of("b", text = "one two three four five six seven")))(DocSet.docEnc))
    val first = DocStream.dedupNearBatch(docs, s"$tmp/sigs", shingleSize = 3)
      .toDF.select("docId").as[String].collect().toSet
    assert(first == Set("a", "b"))
    // simulate the retry: the log already holds this batch's signatures;
    // the replay must NOT drop the docs against their own logged entries
    val retry = DocStream.dedupNearBatch(docs, s"$tmp/sigs", shingleSize = 3)
      .toDF.select("docId").as[String].collect().toSet
    assert(retry == Set("a", "b"), "retried batch lost its own documents")
    // a genuinely different near-dup doc still drops cross-batch
    val later = DocSet.wrap(spark.createDataset(Seq(
      Document.of("c", text = "alpha beta gamma delta epsilon zeta !")))(DocSet.docEnc))
    val keptLater = DocStream.dedupNearBatch(later, s"$tmp/sigs", shingleSize = 3)
      .toDF.select("docId").as[String].collect().toSet
    assert(keptLater.isEmpty)
  }

  test("llmFilterElements: early exit, similarity sorting, score recording") {
    import graft.model.{Document, Element}
    // JVM-static counter: task closures are serialized copies even in local
    // mode, so an instance field would count on the copy
    val calls = StreamingSpec.calls
    calls.set(0)
    val client = new graft.llm.LlmClient {
      def generate(p: String): String = {
        StreamingSpec.calls.incrementAndGet()
        if (p.contains("relevant")) "5" else "0"
      }
    }
    val doc = Document.of("d1").copy(elements = Seq(
      Element.text(0, "Text", "filler " * 60),        // window 1 (alone: > 256 chars)
      Element.text(1, "Text", "the relevant passage"), // window 2
      Element.text(2, "Text", "more filler " * 60)))   // window 3 (never reached)
    // without similarity sorting: windows scanned in order, early exit at #2
    val kept = DocSet.of(spark, Seq(doc))
      .llmFilterElements(client, "find it?", threshold = 3, maxTokens = 256)
      .takeAll()
    assert(kept.size == 1)
    assert(kept.head.prop("_llm_filter_score").contains("5"))
    assert(kept.head.prop("_llm_filter_score_source_element_index").contains("1"))
    assert(calls.get() == 2, s"expected early exit after window 2, got ${calls.get()} calls")

    // similarity sorter puts the relevant element first -> exactly 1 call
    calls.set(0)
    val overlap = (q: String, t: String) =>
      q.split("\\s+").count(w => t.contains(w.stripSuffix("?"))).toDouble
    val kept2 = DocSet.of(spark, Seq(doc))
      .llmFilterElements(client, "relevant?", threshold = 3, maxTokens = 256,
        similarityScorer = Some(overlap))
      .takeAll()
    assert(kept2.size == 1 && calls.get() == 1)

    // below-threshold docs are dropped; keepNone retains element-less docs
    val empty = Document.of("d2")
    val out = DocSet.of(spark, Seq(empty))
      .llmFilterElements(client, "q", keepNone = true).takeAll()
    assert(out.size == 1)
    val dropped = DocSet.of(spark, Seq(empty))
      .llmFilterElements(client, "q", keepNone = false).takeAll()
    assert(dropped.isEmpty)
  }

  test("streaming heavy hitters: sketch state accumulates across micro-batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val hh = DocStream.heavyHittersStream(
      input.toDF().toDF("src", "text"), "src", "text", capacity = 2)
    val query = hh.toDF.writeStream.format("memory").queryName("stream_hh")
      .outputMode("update").start()
    try {
      input.addData(("s1", "alpha alpha beta"), ("s1", "alpha gamma"))
      query.processAllAvailable()
      // alpha(3) dominates; capacity 2 keeps it plus one other survivor
      val b1 = spark.sql("SELECT top FROM stream_hh").as[Seq[String]].collect().last
      assert(b1.head == "alpha")
      // the second batch's tokens merge into the SAME sketch state: beta
      // surges past alpha's accumulated count
      input.addData(("s1", "beta beta beta beta beta"))
      query.processAllAvailable()
      val b2 = spark.sql("SELECT top FROM stream_hh").as[Seq[String]].collect().last
      assert(b2.head == "beta", s"expected beta to lead after surge, got $b2")
      assert(b2.contains("alpha")) // alpha's count survived from batch 1
    } finally query.stop()
  }

  test("anomalyStream: spike flags against prior-bucket moments across batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val out = DocStream.anomalyStream(
      input.toDF().toDF("k", "b", "x"), "k", "b", "x", sigmas = 3, minPrior = 10)
    val query = out.toDF.writeStream.format("memory").queryName("stream_anom")
      .outputMode("update").start()
    try {
      // batch 1: eleven quiet buckets — none can flag (n < minPrior for
      // the first ten; the 11th deviates by zero)
      input.addData((0 to 10).map(b => ("k1", b.toLong, 1L)): _*)
      query.processAllAvailable()
      val b1 = spark.sql("SELECT bucketNs, anomalous FROM stream_anom")
        .as[(Long, Boolean)].collect().toMap
      assert(b1.size == 11 && b1.values.forall(!_))
      // batch 2: a 50x spike judged against the 11 quiet PRIOR buckets
      // (zero variance -> any deviation flags), then a quiet bucket whose
      // moments now include the spike -> stays normal
      input.addData(("k1", 11L, 50L), ("k1", 12L, 1L))
      query.processAllAvailable()
      val b2 = spark.sql("SELECT bucketNs, anomalous FROM stream_anom")
        .as[(Long, Boolean)].collect().toMap
      assert(b2(11L) === true)
      assert(b2(12L) === false)
    } finally query.stop()
  }

  test("q_stream_e2e and q_stream_eviction clean up after themselves: repeated invocations stay flat") {
    def gsViews = spark.catalog.listTables().collect()
      .count(_.name.startsWith("gs_"))
    import scala.jdk.CollectionConverters._
    def tmpDirs = java.nio.file.Files.list(
        java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
      .iterator()
      .asScala.count(p => {
        val n = p.getFileName.toString
        n.startsWith("graft_stream_") || n.startsWith("graft_evict_")
      })
    val dir = "/root/testdata/sf0.001"
    def run(q: String) = SparkEntry.queries(q)(spark, dir).collect().toSeq
    val (v0, d0) = (gsViews, tmpDirs)
    val a1 = run("q_stream_e2e"); val b1 = run("q_stream_eviction")
    val a2 = run("q_stream_e2e"); val b2 = run("q_stream_eviction")
    assert(a1 == a2 && b1 == b2, "repeat invocations agree")
    assert(gsViews == v0, "no temp views accumulate")
    assert(tmpDirs == d0, "no temp dirs accumulate")
  }

  // -------------------------------------------- checkpoint stop/restore
  // r18 brief #2: for each stateful operator, kill the query at a phase
  // boundary, restart from its checkpoint, and require the combined output
  // to be IDENTICAL to the uninterrupted run — state (including event-time
  // timeout timestamps and BigInt-string moments) must round-trip through
  // the state store, and no batch may replay into the sink.

  import org.apache.spark.sql.{DataFrame, Encoder, Row}

  /** Feed `phases` as one micro-batch each; optionally stop + restart from
    * the shared checkpoint after phase `stopAfter`. The sink is
    * foreachBatch into a static queue — the memory sink refuses checkpoint
    * recovery ("does not support recovering"), foreachBatch is the
    * restartable sink shape. Returns every output row as a string. */
  private def runPhases[A: Encoder](phases: Seq[Seq[A]], stopAfter: Option[Int],
      mode: String, prefix: String)(build: DataFrame => DataFrame): Seq[String] = {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[A]
    val out = build(input.toDF())
    val ck = java.nio.file.Files.createTempDirectory(s"restore_$prefix").toString
    val runId = s"${prefix}_${StreamingSpec.calls.incrementAndGet()}"
    def start() =
      out.writeStream.outputMode(mode)
        .option("checkpointLocation", ck)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.collect().foreach(r => RestoreSink.q(runId).add(r.toString))
        }
        .start()
    var q = start()
    try {
      phases.zipWithIndex.foreach { case (data, i) =>
        input.addData(data: _*)
        q.processAllAvailable()
        if (stopAfter.contains(i)) { q.stop(); q = start() }
      }
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    RestoreSink.q(runId).iterator().asScala.toSeq
  }

  private def restoreMatchesUninterrupted[A: Encoder](phases: Seq[Seq[A]],
      stopAfter: Int, mode: String, prefix: String)
      (build: DataFrame => DataFrame): Unit = {
    val whole = runPhases(phases, None, mode, prefix)(build).sorted
    val split = runPhases(phases, Some(stopAfter), mode, prefix)(build).sorted
    assert(whole.nonEmpty, "fixture must produce output")
    assert(split == whole,
      s"restored run diverged:\nuninterrupted=$whole\nrestored=$split")
  }

  test("restore: sessionizeStream resumes open sessions and timeout clocks") {
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val phases = Seq(
      Seq(("u", ts(10, 0)), ("u", ts(10, 5)), ("u", ts(10, 30))),
      Seq(("u", ts(10, 32)), ("w", ts(11, 30))), // merges into restored open session
      Seq(("w", ts(13, 0))),                     // watermark closes u's session by timeout
      Seq(("z", ts(14, 0))))
    restoreMatchesUninterrupted(phases, stopAfter = 0, "append", "sess") { df =>
      DocStream.sessionizeStream(df.toDF("key", "ts"), "key", "ts",
        gapMs = 600000L, watermarkDelay = "5 minutes").toDF
    }
  }

  test("restore: heavyHittersStream resumes the Misra-Gries counters") {
    val phases = Seq(
      Seq(("u", "alpha alpha beta"), ("v", "x y")),
      Seq(("u", "beta beta gamma gamma gamma")),
      Seq(("u", "alpha"), ("v", "x")))
    restoreMatchesUninterrupted(phases, stopAfter = 1, "update", "hh") { df =>
      DocStream.heavyHittersStream(df.toDF("key", "text"), "key", "text",
        capacity = 2).toDF
    }
  }

  test("restore: anomalyStream resumes the BigInt running moments") {
    val phases = Seq(
      Seq(("k", 1L, 10L), ("k", 2L, 10L), ("k", 3L, 10L)),
      Seq(("k", 4L, 100L), ("k", 5L, 10L)), // 4 must flag vs restored moments
      Seq(("k", 6L, 10L)))
    restoreMatchesUninterrupted(phases, stopAfter = 0, "update", "anom") { df =>
      DocStream.anomalyStream(df.toDF("key", "bucket", "x"),
        "key", "bucket", "x", sigmas = 3, minPrior = 2).toDF
    }
  }

  test("restore: dedupNearStream resumes against its signature log, no replay") {
    implicit val sq = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog near the old river bank"
    val phases = Seq(
      Seq((1L, base), (2L, base.replace("river", "creek")),
        (3L, "completely different text about query engines and planners")),
      // 4 near-dups the logged 1 (cross-restart store hit); 5 is new
      Seq((4L, base.replace("lazy", "sleepy")),
        (5L, "another unrelated document mentioning streams and state")))
    def run(stopAfter: Option[Int], runId: String): Seq[String] = {
      val tmp = java.nio.file.Files.createTempDirectory(s"restore_nd").toString
      val input = MemoryStream[(Long, String)]
      val docs = DocStream.fromStreamingDf(
        input.toDF().toDF("doc_id", "text"), Some("doc_id"), Some("text"))
      val writer = DocStream.dedupNearStream(docs, s"$tmp/sigs", s"$tmp/ckpt",
          shingleSize = 3, bands = 8, threshold = 0.3) { kept =>
        kept.toDF.select("docId").collect()
          .foreach(r => RestoreSink.q(runId).add(r.getString(0)))
      }
      var q = writer.start()
      try {
        phases.zipWithIndex.foreach { case (d, i) =>
          input.addData(d: _*)
          q.processAllAvailable()
          if (stopAfter.contains(i)) { q.stop(); q = writer.start() }
        }
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      RestoreSink.q(runId).iterator().asScala.toSeq.sorted
    }
    val whole = run(None, "nd_whole")
    val split = run(Some(0), "nd_split")
    assert(whole == Seq("1", "3", "5"), s"uninterrupted kept $whole")
    assert(split == whole, s"restored run diverged: $split vs $whole")
  }

  test("the streaming gates never change the caller's shuffle partitions") {
    val sfDir = SparkFixture.sf0001
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    // any value but the streams' own sizing, min(defaultParallelism, 8)
    val mine = (math.min(spark.sparkContext.defaultParallelism, 8) + 1).toString
    spark.conf.set(key, mine)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var running = true
    val poll = new Thread(() => while (running) { seen.add(spark.conf.get(key)); Thread.sleep(1) })
    try {
      poll.start()
      for (gate <- Seq("q_stream_e2e", "q_stream_eviction")) {
        val (done, _) = GateHarness.runGate(spark, sfDir, gate)(_.count())
        assert(done.get > 0, gate)
      }
    } finally {
      running = false
      poll.join()
      spark.conf.set(key, prev)
    }
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSet == Set(mine))
  }
}

/** JVM-static per-run sinks for foreachBatch restore tests (closures are
  * serialized; recorded state must live on a static object). */
object RestoreSink {
  private val m = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentLinkedQueue[String]]()
  def q(run: String): java.util.concurrent.ConcurrentLinkedQueue[String] =
    m.computeIfAbsent(run, _ => new java.util.concurrent.ConcurrentLinkedQueue[String]())
}

object StreamingSpec {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}
