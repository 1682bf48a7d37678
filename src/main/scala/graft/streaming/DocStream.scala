package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.docset.DocSet
import graft.model.Document

/**
 * Structured Streaming ingest for the Document pipeline (SURVEY §2.11:
 * the reference is strictly batch — Ray Datasets, no watermarks or stateful
 * ops anywhere — so this is a green-field extension, not a port).
 *
 * The design premise: DocSet's per-document verbs (map/flatMap/filter,
 * partition, chunk, sketch, embed, llm*) are row-local, so the SAME DocSet
 * code runs over a streaming Dataset[Document] unchanged — `readStream` on
 * a file source feeds the identical pipeline that batch runs, and sinks go
 * through `writeStream` (parquet append, foreachBatch for custom writers).
 * Aggregations use event-time windows + watermarks (streaming state is
 * bounded by the watermark — the 100 TB/day concern).
 */
object DocStream {

  /** Streaming file source -> Dataset[Document]: each new text/JSON file's
    * records become documents as files arrive. The conversion is the same
    * column-native projection as batch DocRead.fromDataFrame, so it runs
    * under the streaming planner unchanged. */
  def fromFileStream(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType,
                     format: String = "json",
                     docIdField: Option[String] = None,
                     textField: Option[String] = None): DocSet = {
    val df = spark.readStream.format(format).schema(schema).load(path)
    fromStreamingDf(df, docIdField, textField)
  }

  /** Any streaming DataFrame -> DocSet (column-native, no typed map). */
  def fromStreamingDf(df: DataFrame, docIdField: Option[String] = None,
                      textField: Option[String] = None): DocSet =
    graft.sources.DocRead.fromDataFrame(df, docIdField, textField)

  /** Streaming twin of DocRead.binary: files arriving under `path` become
    * binary Documents (docId = file path, bytes in binary_representation,
    * docType = binaryFormat) — the ingest front of a continuous document
    * pipeline (drop PDFs in a bucket, chunks appear downstream). The
    * binaryFile source streams like any file source; schema is its fixed
    * four-column shape, pre-declared as streaming sources require. */
  def binaryFileStream(spark: SparkSession, path: String,
                       binaryFormat: String): DocSet = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("path", StringType), StructField("modificationTime", TimestampType),
      StructField("length", LongType), StructField("content", BinaryType)))
    val df = spark.readStream.format("binaryFile")
      .option("pathGlobFilter", s"*.$binaryFormat")
      .schema(schema).load(path)
    // the SAME projection as batch DocRead.binary — parity by construction
    graft.sources.DocRead.binaryRowsToDocs(df, binaryFormat)
  }

  /** Tumbling event-time window counts per key with a watermark bounding
    * state (the streaming analogue of groupbyCount; late data beyond the
    * watermark is dropped, on-time results are exact). */
  def countByWindow(docs: DocSet, timeProperty: String, keyProperty: String,
                    windowDuration: String, watermarkDelay: String): DataFrame =
    docs.toDF
      .select(
        DocSet.fieldCol(timeProperty).cast("timestamp").as("__ts"),
        DocSet.fieldCol(keyProperty).as("key"))
      .withWatermark("__ts", watermarkDelay)
      .groupBy(window(col("__ts"), windowDuration).as("window"), col("key"))
      .agg(count(lit(1)).as("count"))

  /**
   * Streaming exact dedup: drop documents whose content hash was already
   * seen, with state bounded by the event-time watermark (the streaming
   * analogue of Dedup.exactRows — without a watermark, dedup state grows
   * with the corpus forever; with one, a duplicate arriving later than
   * `watermarkDelay` after the original is passed through, the standard
   * completeness/state trade). Uses `dropDuplicatesWithinWatermark`:
   * plain dropDuplicates only evicts state when the EVENT-TIME column is
   * itself a dedup key — with content-hash keys the watermark would bound
   * nothing and state would grow with the corpus, the exact failure this
   * function exists to avoid.
   *
   * Keyed on a 192-bit content hash (xxhash64 + md5), matching the batch
   * path's birthday-collision reasoning at billions-of-docs scale.
   * NULL-text documents (binary-only media) carry no content to compare
   * and PASS THROUGH undeduplicated — hashing them would alias every
   * binary doc onto one state key and silently drop all but the first.
   */
  def dedupExactStream(docs: DocSet, timeProperty: String,
                       watermarkDelay: String): Dataset[Document] = {
    import DocSet.docEnc
    val base = docs.toDF
      .withColumn("__ts", DocSet.fieldCol(timeProperty).cast("timestamp"))
    val deduped = base.where(col("textRepresentation").isNotNull)
      .withColumn("__h1", xxhash64(col("textRepresentation")))
      .withColumn("__h2", md5(col("textRepresentation")))
      .withWatermark("__ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("__h1", "__h2")
      .drop("__h1", "__h2")
    deduped.unionByName(base.where(col("textRepresentation").isNull))
      .drop("__ts").as[Document]
  }

  /**
   * Streaming NEAR-dup dedup. Unlike exact dedup (whose per-key state is a
   * 24-byte hash, safely held in the state store under a watermark),
   * near-dup state is corpus-sized — every kept document's minhash
   * signature, forever — so it lives in an external band-keyed parquet log
   * instead of streaming state, and the query runs as foreachBatch over the
   * batch LSH machinery. Per-batch cost model: one columnar scan of the
   * log's three narrow columns + a join shuffled on the band key (band
   * keys are hashed band contents — too high-cardinality to partition the
   * files by, so there is no partition pruning; for long-lived logs,
   * periodically compact (DocSet.compact) or re-layout with
   * Bucketing.bucketBy on _band to pre-co-partition the recurring join;
   * the batch-scale alternative is Dedup.dedupIncrement's fingerprint
   * store).
   *
   * Per micro-batch: (1) greedy within-batch minhashLsh dedup; (2) drop
   * survivors whose any LSH band matches a previously-kept signature with
   * est-jaccard >= threshold; (3) append the kept signatures to the log and
   * hand the kept documents to `sink`. Exactly-once caveat, documented: a
   * retried batch may re-append signatures — duplicate log rows only cause
   * repeated (idempotent) drop decisions, never data corruption.
   */
  def dedupNearStream(docs: DocSet, sigStore: String, checkpoint: String,
                      shingleSize: Int = 5, numHashes: Int = 16,
                      bands: Int = 4, threshold: Double = 0.5)
                     (sink: DocSet => Unit): DataStreamWriter[Document] =
    foreachDocBatch(docs, checkpoint) { (batch, _) =>
      sink(dedupNearBatch(batch, sigStore, shingleSize, numHashes, bands, threshold))
    }

  /** One micro-batch of the streaming near-dup flow (also usable as an
    * incremental batch ingest against the same signature log). */
  def dedupNearBatch(batch: DocSet, sigStore: String,
                     shingleSize: Int = 5, numHashes: Int = 16,
                     bands: Int = 4, threshold: Double = 0.5): DocSet = {
    import graft.functions.gf
    import graft.dedup.Dedup
    val spark = batch.spark
    val df = batch.toDF
    // the sketch is the hot path: compute each doc's signature ONCE,
    // checkpoint it, and drive BOTH the within-batch dedup and the
    // cross-batch log join from the same frame (an earlier version ran
    // minhashLsh then re-sketched its output — two full sketch passes per
    // micro-batch). The id universe comes from sig, NOT the banded
    // explode: a null-signature doc (null text — e.g. binary-only media
    // documents) yields zero banded rows and is always KEPT, never
    // silently collapsed or dropped.
    val sigCk = df.select(col("docId").as("_id"),
      gf.minhashSignature(
        gf.wordShingles(col("textRepresentation"), shingleSize), numHashes).as("_sig"))
      .localCheckpoint()
    // (1) within-batch greedy dedup, identical semantics to the batch path
    // (minhashLshKeepIds IS the batch operator's keep-set, over our sigs)
    val intraKeep = Dedup.minhashLshKeepIds(sigCk, "_id", numHashes, bands, threshold)
      .localCheckpoint() // consumed by the banded join AND the kept-id anti-join
    val banded = sigCk.join(intraKeep, Seq("_id"), "left_semi")
      .where(col("_sig").isNotNull)
      .select(col("_id"), col("_sig"), Dedup.bandKeys(col("_sig"), numHashes, bands))
    // (2) cross-batch: any band hit against the log with est >= threshold.
    // The log carries the KEEPER'S doc id so a retried batch cannot drop
    // its own documents against the signatures it logged before failing
    // (self-matches are excluded by id) — the property that makes duplicate
    // log rows from retries genuinely idempotent. A doc re-delivered under
    // the SAME id in a later batch is likewise kept again (at-least-once
    // emission), never silently swallowed by its own logged signature.
    // Only a genuinely missing store path means "first batch" — any other
    // read failure (corrupt footer, FS error) must FAIL the batch, not
    // silently disable cross-batch dedup.
    val store: DataFrame = {
      val path = new org.apache.hadoop.fs.Path(sigStore)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) {
        val raw = spark.read.parquet(sigStore)
        // pre-_id logs (earlier schema) read as null keeper ids; the
        // null-safe self-exclusion below still lets those rows drop OTHER
        // docs, so old dedup history keeps working after an upgrade
        val withId = if (raw.columns.contains("_id")) raw
          else raw.withColumn("_id", lit(null).cast("string"))
        withId.select(col("_band"), col("_sig").as("_storeSig"),
          col("_id").as("_storeId"))
      } else banded.select(col("_band"), col("_sig").as("_storeSig"),
        col("_id").as("_storeId")).limit(0)
    }
    val dropped = banded.join(store, Seq("_band"))
      .where(!(col("_id") <=> col("_storeId")) &&
        Dedup.slotMatch(col("_sig"), col("_storeSig"), numHashes) >= threshold)
      .select(col("_id")).distinct()
    // keptIds is consumed by BOTH the log write and the kept-docs join —
    // checkpoint the (small, id-only) set so the store join runs once
    val keptIds = intraKeep.distinct()
      .join(dropped, Seq("_id"), "left_anti")
      .localCheckpoint()
    // (3) log the kept signatures, then emit the kept documents
    banded.join(keptIds, Seq("_id"), "left_semi")
      .select(col("_band"), col("_sig"), col("_id"))
      .write.mode("append").parquet(sigStore)
    DocSet.wrap(
      df.join(keptIds.withColumnRenamed("_id", "docId"), Seq("docId"), "left_semi")
        .as[Document](DocSet.docEnc))
  }

  /**
   * Stateful streaming sessionization via flatMapGroupsWithState — the
   * custom-state surface (SURVEY §2.11) for semantics that windowed aggs
   * can't express: session boundaries depend on the gap between
   * CONSECUTIVE events, not on fixed windows.
   *
   * State per key is one open session (24 bytes), closed either by an
   * in-batch event falling beyond the gap or by the event-time timeout
   * when the watermark passes sessionEnd + gap — so state is bounded by
   * the number of concurrently-active keys, not corpus size. Emits each
   * session exactly once, on close (Append semantics).
   *
   * Ordering caveat (standard for stateful streaming): events are sorted
   * within each micro-batch, but an out-of-order event arriving in a LATER
   * batch (still inside the watermark) after its session closed starts a
   * new session rather than reopening the old one — the
   * completeness/latency trade every streaming sessionizer makes; the
   * batch `q_sessionize` path is the exact-retrospective variant.
   */
  def sessionizeStream(df: DataFrame, keyCol: String, tsCol: String,
                       gapMs: Long, watermarkDelay: String)
      : Dataset[DocStream.Session] = {
    import org.apache.spark.sql.{Encoders => E}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val ev = df
      .select(col(keyCol).cast("string").as("key"),
        col(tsCol).cast("timestamp").as("ts"))
      // a null/unparseable timestamp passes the late-row filter (null
      // comparisons are not "late") and would NPE in the group function
      // on every checkpoint replay — drop malformed rows up front
      .where(col("ts").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .as[SessEvent](E.product[SessEvent])
    def close(key: String, s: SessState): Session =
      Session(key, new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.endMs), s.n)
    val fn = (key: String, it: Iterator[SessEvent], state: GroupState[SessState]) => {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(close(key, s))
      } else {
        // interval clustering over (sorted events + the open session as an
        // interval): adjacent clusters within the gap merge — this handles
        // late stragglers uniformly (consecutive stragglers sessionize
        // TOGETHER, and a straggler bridging into the open session merges
        // it), where a per-event fold against only the open session emitted
        // wrong singleton sessions
        val intervals = (it.map(e => SessState(e.ts.getTime, e.ts.getTime, 1L)).toSeq ++
          state.getOption.toSeq).sortBy(s => (s.startMs, s.endMs))
        if (intervals.isEmpty) Iterator.empty
        else {
          val merged = scala.collection.mutable.ArrayBuffer.empty[SessState]
          intervals.foreach { s =>
            if (merged.nonEmpty && s.startMs - merged.last.endMs <= gapMs) {
              val l = merged.last
              merged(merged.size - 1) = SessState(math.min(l.startMs, s.startMs),
                math.max(l.endMs, s.endMs), l.n + s.n)
            } else merged += s
          }
          // every cluster but the latest is gap-closed; the latest stays open
          val open = merged.last
          state.update(open)
          // the timeout must sit beyond the current watermark
          state.setTimeoutTimestamp(
            math.max(open.endMs + gapMs, state.getCurrentWatermarkMs() + 1))
          merged.dropRight(1).map(close(key, _)).iterator
        }
      }
    }
    ev.groupByKey(_.key)(E.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)(
        E.product[SessState], E.product[Session])
  }

  /**
   * Continuous heavy hitters: a per-group Misra-Gries sketch maintained in
   * streaming state, updated with each micro-batch's tokens and emitting
   * the current top items after every batch (Update mode). The state is
   * bounded by `capacity` counters per group REGARDLESS of stream length —
   * the streaming counterpart of HeavyHitters.topTokens (whose exact
   * recount needs the full corpus; a stream can instead recount candidates
   * over a retention window downstream). Same undercount guarantee as the
   * batch sketch: an item with frequency > N/(capacity+1) is always
   * present.
   */
  def heavyHittersStream(df: DataFrame, keyCol: String, textCol: String,
                         capacity: Int): Dataset[HHSnapshot] = {
    import org.apache.spark.sql.{Encoders => E}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import graft.functions.{gf, MisraGries}
    require(capacity > 0, "capacity must be positive")
    val toks = df
      .select(col(keyCol).cast("string").as("key"),
        explode(gf.tokens(col(textCol))).as("tok"))
      .where(length(col("tok")) > 0)
      .as[(String, String)](E.tuple(E.STRING, E.STRING))
    val fn = (key: String, it: Iterator[(String, String)], state: GroupState[HHState]) => {
      val buf = scala.collection.mutable.HashMap[String, Long](
        state.getOption.map(_.pairs).getOrElse(Map.empty).toSeq: _*)
      it.foreach { case (_, t) => MisraGries.add(buf, t, capacity) }
      state.update(HHState(buf.toMap))
      HHSnapshot(key, buf.toSeq.sortBy { case (t, c) => (-c, t) }.map(_._1))
    }
    toks.groupByKey(_._1)(E.STRING)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)(
        E.product[HHState], E.product[HHSnapshot])
  }

  case class HHState(pairs: Map[String, Long])
  case class HHSnapshot(key: String, top: Seq[String])

  /**
   * Online volume-anomaly flags — the streaming twin of
   * EventAnalytics.anomalousBuckets. Input is a stream of ALREADY-CLOSED
   * bucket counts (key, bucket_ns, x) — e.g. a watermarked windowed count
   * upstream; each arriving bucket is z-tested against the running
   * moments of its key's PRIOR buckets only (a bucket never judges
   * itself — that's what lets this run online without a second pass),
   * then folded into the moments. Same integer cross-multiplied test as
   * the batch operator, in BigInt so unbounded stream totals cannot
   * overflow; buckets before `minPrior` history never flag (the z-test
   * is meaningless at tiny n — see the batch scaladoc: a lone outlier
   * among n ≤ 9 equal buckets cannot even reach 3σ). State per key is
   * THREE longs regardless of stream length.
   */
  def anomalyStream(df: DataFrame, keyCol: String, bucketCol: String,
                    countCol: String, sigmas: Int = 3, minPrior: Int = 10)
      : Dataset[AnomFlag] = {
    import org.apache.spark.sql.{Encoders => E}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(sigmas >= 1 && minPrior >= 2, "need sigmas >= 1 and minPrior >= 2")
    val in = df.select(col(keyCol).cast("string").as("key"),
        col(bucketCol).cast("long").as("bucketNs"),
        col(countCol).cast("long").as("x"))
      // a null bucket/count would NPE the primitive decode inside the
      // state function (a poison pill that kills the query on every
      // checkpoint replay) — malformed rows are dropped up front
      .where(col("bucketNs").isNotNull && col("x").isNotNull)
      .as[(String, Long, Long)](E.tuple(E.STRING, E.scalaLong, E.scalaLong))
    val fn = (key: String, it: Iterator[(String, Long, Long)],
              state: GroupState[AnomState]) => {
      // running totals fold in BigInt (stringly carried in state — the
      // product encoder has no BigInt field type): a raw Long sum of
      // squares wraps after ~1e3 buckets of x~1e8 and then every bucket
      // flags forever
      var n = 0L
      var s = BigInt(0)
      var ss = BigInt(0)
      state.getOption.foreach { a => n = a.n; s = BigInt(a.s); ss = BigInt(a.ss) }
      val out = it.toSeq.sortBy(_._2).map { case (_, b, x) =>
        val dev = BigInt(n) * x - s
        val varN2 = BigInt(n) * ss - s * s
        val flag = n >= minPrior && dev * dev > BigInt(sigmas.toLong * sigmas) * varN2
        n += 1
        s += x
        ss += BigInt(x) * x
        AnomFlag(key, b, x, flag)
      }
      state.update(AnomState(n, s.toString, ss.toString))
      out.iterator
    }
    in.groupByKey(_._1)(E.STRING)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fn)(
        E.product[AnomState], E.product[AnomFlag])
  }

  /** Running-moment state for [[anomalies]]. CHECKPOINT COMPATIBILITY: the
    * schema changed from (Long, Long, Long) to (Long, String, String) when
    * the sums moved to BigInt-backed strings (overflow fix) — a streaming
    * checkpoint written under the old encoder cannot be restored by this
    * build. Restart such queries with a fresh checkpoint location (or a new
    * query name); Spark will otherwise fail or mis-decode the state. */
  case class AnomState(n: Long, s: String, ss: String)
  case class AnomFlag(key: String, bucketNs: Long, x: Long, anomalous: Boolean)

  /**
   * Stream-stream interval join: rows from two streams matching on equi
   * keys whose event times differ by at most `widthSec` — the streaming
   * analogue of the batch RangeJoin.band. The watermark + the two-sided
   * time bound are what make unbounded join state safe: Spark can discard
   * a buffered row once the other stream's watermark passes its time plus
   * the interval, so state is O(rows inside the watermark window), not the
   * stream history. Both time bounds must be part of the JOIN CONDITION
   * (not a post-filter) or the state-cleanup analysis cannot see them.
   */
  def joinWithinInterval(left: DataFrame, right: DataFrame, keys: Seq[String],
                         lTime: String, rTime: String, widthSec: Long,
                         watermarkDelay: String): DataFrame = {
    val l = left.withWatermark(lTime, watermarkDelay)
    val r = right.withWatermark(rTime, watermarkDelay)
    // time bounds are the base condition, so keys = Nil works (pure
    // interval join), matching the batch RangeJoin.band contract
    val timeBound =
      r.col(rTime) >= l.col(lTime) - expr(s"INTERVAL $widthSec SECONDS") &&
      r.col(rTime) <= l.col(lTime) + expr(s"INTERVAL $widthSec SECONDS")
    val cond = keys.foldLeft(timeBound)((c, k) => c && l(k) === r(k))
    l.join(r, cond)
  }

  /** Input/state/output rows for sessionizeStream. */
  case class SessEvent(key: String, ts: java.sql.Timestamp)
  case class SessState(startMs: Long, endMs: Long, n: Long)
  case class Session(key: String, start: java.sql.Timestamp,
                     end: java.sql.Timestamp, n_events: Long)

  /** Append-mode parquet writer for a streaming DocSet. */
  def writeParquetStream(docs: DocSet, path: String,
                         checkpoint: String): DataStreamWriter[Document] =
    docs.ds.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)

  /** foreachBatch bridge: run any BATCH DocSet stage (including sinks the
    * streaming planner cannot host) per micro-batch. */
  def foreachDocBatch(docs: DocSet, checkpoint: String)
                     (f: (DocSet, Long) => Unit): DataStreamWriter[Document] =
    docs.ds.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((ds: Dataset[Document], id: Long) => f(DocSet.wrap(ds), id))
}
