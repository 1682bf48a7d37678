package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import scala.jdk.CollectionConverters._

import graft.functions.gf
import graft.dedup.Dedup
import graft.ann.Ann
import graft.llm.FakeLlmClient
import graft.plan.{QDocs, QNumV, QPlan, QStrV, QueryExecutor, QValue}

/**
 * Driver contract: one `queries` entry per implemented operator from
 * SURVEY.md §2, with a DuckDB-equivalent `oracleSql` wherever the operator is
 * SQL-expressible.
 *
 * Determinism rules used throughout (so Spark and DuckDB hash-match):
 *  - money math in exact int64 cents (`round(x*100)::bigint`), never float
 *    sums: partial-aggregation order then cannot change results;
 *  - event timestamps kept as int64 nanoseconds regardless of the parquet
 *    physical type (TIMESTAMP(NANOS) reads as int64 via nanosAsLong;
 *    TIMESTAMP(MICROS) is normalized to ns via unix_micros*1000 — see
 *    `events()`; DuckDB compares via epoch_ns, which agrees in both cases)
 *    — pure integer math on both sides;
 *  - every query ends in a total ORDER BY;
 *  - double outputs only as (a) ratios of exactly-equal integers computed
 *    the same way on both sides, or (b) round(x, 4-6) of such values.
 */
object SparkEntry {

  // ------------------------------------------------------------- helpers

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Recursive delete for gate temp dirs (directory streams closed —
    * an unclosed Files.list leaks a descriptor per level until GC). */
  private def rmTree(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p)) {
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala.toList.foreach(rmTree) finally s.close()
    }
    java.nio.file.Files.deleteIfExists(p)
    ()
  }

  /** A session of its own for a gate's streams: `s`'s runtime SQL conf,
    * with the state-store sizing below on top. The caller's session is
    * never changed, so no query running next to the gate sees the sizing.
    *
    * State-store sizing (r21): every stateful streaming query creates one
    * state store instance PER SHUFFLE PARTITION PER MICRO-BATCH (tasks +
    * delta files + commits) — per-batch fixed cost that scales with the
    * partition count, not the data. State partitions should track
    * stateful-KEY cardinality (event types x hour windows, user ids — tens),
    * not core count, so they are sized min(defaultParallelism, 8); every
    * gate is partition-count-invariant by construction (pinned by the
    * InvarianceSpec matrix), so this changes no result. */
  private def streamSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    s.conf.getAll.foreach { case (k, v) => if (ss.conf.isModifiable(k)) ss.conf.set(k, v) }
    ss.conf.set("spark.sql.shuffle.partitions",
      math.min(s.sparkContext.defaultParallelism, 8).toString)
    ss
  }

  /** events.ts normalized to int64 nanos whatever the parquet physical type:
    * TIMESTAMP(NANOS) reads directly as long via nanosAsLong; a plain
    * TIMESTAMP (micros, as in the regenerated testdata) is converted with
    * unix_micros*1000 so every downstream integer-ns computation — and the
    * epoch_ns-based DuckDB oracles — is unchanged. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = tbl(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ =>
        // TIMESTAMP_NTZ (micros): the NTZ→TIMESTAMP cast reads the wall
        // clock in the session zone, so pin UTC (matches DuckDB's epoch_us
        // on a naive timestamp) before taking unix_micros.
        s.conf.set("spark.sql.session.timeZone", "UTC")
        df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    }
  }

  /** Exact cents from a 2-decimal double column. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** Execute a serialized logical plan (SURVEY §3.2 layer) against the
    * parquet tables in `dir`, with the deterministic offline LLM fake. */
  private def runPlan(s: SparkSession, dir: String, planJson: String): QValue =
    new QueryExecutor(s, new FakeLlmClient("echo:64"), name => tbl(s, dir, name))
      .execute(QPlan.fromJson(planJson))

  /** {properties.key, properties.count} docs -> (key, count) DataFrame
    * (the groupby_count output contract, reference groupby_count.py:86). */
  private def keyCountDf(v: QValue): DataFrame = v match {
    case QDocs(ds) => ds.toDF
      .select(element_at(col("properties"), "key").as("key"),
        element_at(col("properties"), "count").cast("long").as("count"))
    case other => throw new IllegalStateException(s"expected docs, got $other")
  }

  private def scalarDf(s: SparkSession, v: QValue, name: String): DataFrame = {
    import s.implicits._
    v match {
      case QNumV(d)  => Seq(d).toDF(name)
      case QStrV(st) => Seq(st).toDF(name)
      case other => throw new IllegalStateException(s"expected scalar, got $other")
    }
  }

  // ------------------------------------------------------------ flagship

  /** Flagship: the condensed corpus-curation pipeline — exact + MinHash-LSH
    * dedup, then per-language survivor stats over the quality signals
    * (token mass, composite quality, compression ratio). One pass through
    * the operators a real training-data run would chain. */
  def entry(spark: SparkSession): DataFrame = {
    // the condensed curation pipeline: document INGEST (the real mixed
    // pdf/html/docx/pptx corpus through the partitioning front door),
    // exact + near dedup, near-dup GRAPH signals (clustering coefficient
    // for boilerplate cliques, personalized PageRank for seed proximity),
    // then per-doc quality/rarity/repetition/lexical signals (row-local +
    // corpus-statistical), rolled up per language — the end-to-end shape
    // of a training-data run
    val parquetDocs = tbl(spark, "/root/testdata/sf0.001", "documents")
    // ingest front door: partitionAuto dispatches per-document by format,
    // markdown flattens the chunked elements back to text, langId tags the
    // new rows; folded into the curation run as its own source. Skipped
    // cleanly when the corpus directory is absent.
    val refData = "/root/reference/lib/sycamore/sycamore/tests/resources/data"
    val docs = if (!new java.io.File(s"$refData/pdfs").isDirectory) parquetDocs else {
      import graft.sources.DocRead
      val ingested = DocRead.binary(spark, s"$refData/pdfs", "pdf")
        .union(
          DocRead.binary(spark, s"$refData/htmls", "html"),
          DocRead.binary(spark, s"$refData/docx", "docx"),
          DocRead.binary(spark, s"$refData/pptx", "pptx"))
        .partitionAuto()
        .markdown()
        .toDF
        .select(
          // modular path hash (ANSI-safe, unlike the wrapping fingerprint64)
          // offset past the parquet table's id range so sources never collide
          (gf.polyFingerprint(col("docId")) + lit(1L << 40)).as("doc_id"),
          col("textRepresentation").as("text"))
        .where(col("text").isNotNull && length(col("text")) > 0)
        // ftfy-style repair before any scoring: web/PDF extractions carry
        // double-encoded sequences that would skew langId and quality —
        // the FIXPOINT form, since real extractions nest encodings
        .select(col("doc_id"), gf.fixMojibakeFixpoint(col("text")).as("text"))
        .select(col("doc_id"), col("text"),
          gf.langId(col("text")).as("lang"),
          lit("ingest").as("source"),
          length(col("text")).cast("long").as("n_chars"))
      parquetDocs.select("doc_id", "text", "lang", "source", "n_chars")
        .unionAll(ingested)
    }
    // PRE-FLIGHT CONTRACT (Deequ shape): curation refuses to run on a
    // drop that violates its input contract — null text or duplicate ids
    // upstream would silently skew every signal below. One scan, exact
    // counts; the require message carries the violating constraints.
    {
      import graft.operators.Checks
      val contract = Checks.run(docs, Seq(
        Checks.RowCheck("text_not_null", Checks.notNull(col("text"))),
        Checks.RowCheck("lang_domain", Checks.matches(col("lang"), "^[a-z]{2,3}$")),
        Checks.UniqueCheck("doc_id_unique", Seq(col("doc_id"))))).collect()
      val broken = contract.filterNot(_.getBoolean(3))
        .map(r => s"${r.getString(0)}=${r.getLong(2)}")
      require(broken.isEmpty, s"input contract violated: ${broken.mkString(", ")}")
    }
    // normalization-insensitive exact dedup (dedupKey collapses case/punct
    // variants); stored — it feeds the near-dup pair graph, the
    // seed selection, AND the LSH dedup below
    val exact = Stored.now(Dedup.exactRowsKeepBest(
        docs.withColumn("_dk", gf.dedupKey(col("text"))), "doc_id", "_dk",
        gf.qualityScore(col("text"))).drop("_dk"))
    // near-dup pair graph: a vertex's clustering coefficient separates
    // template/boilerplate cliques (everything near-duplicates everything)
    // from organic chains; personalized PageRank from the highest-quality
    // docs scores each survivor's proximity to known-good content
    val pairs = Dedup.minhashLshPairs(exact, "doc_id", "text")
    val cc = graft.operators.Triangles.clusteringCoefficient(pairs, "idA", "idB")
      .select(col("node").as("doc_id"), col("coeff"))
    // seed set: top-5 by (quality, id) — bounded driver collect by
    // construction (the documented small-seed-set contract of personalized)
    val seeds = exact
      .select(col("doc_id"), gf.qualityScore(col("text")).as("_q"))
      .orderBy(desc("_q"), col("doc_id")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    // near-dup pairs are UNDIRECTED (canonical idA < idB, one row per
    // pair) but personalized PageRank walks DIRECTED edges — fed raw,
    // teleport mass would only flow low id -> high id, and since
    // minhashLsh keeps the LOWEST id per group the survivors are exactly
    // the docs biased toward zero. Symmetrize first so proximity is
    // similarity-driven, not id-ordering-driven (clusteringCoefficient
    // does the equivalent internally via both-direction degrees).
    val undirected = pairs.select(col("idA"), col("idB"))
      .unionAll(pairs.select(col("idB").as("idA"), col("idA").as("idB")))
    val ppr = graft.operators.PageRank
      .personalized(undirected, "idA", "idB", seeds, iterations = 3)
      .select(col("node").as("doc_id"), col("score").as("ppr"))
    // near-dup LSH keeps one doc per candidate group; deduped fans out into
    // three branches (spans, lm, main join) — without the store the
    // LSH dedup subtree would run three times
    val deduped = Stored.now(Dedup.minhashLsh(exact, "doc_id", "text"))
    val spans = Dedup.dupSpans(deduped, "doc_id", "text", n = 10)
      .select(col("doc_id"), col("dup_frac"))
    val lm = graft.operators.BigramLm.score(deduped, "doc_id", "text")
      .select(col("doc_id"), col("mean_bits"))
    // Gopher-family lexical signals: TTR joins the rollup; mean word
    // length gates survivors to [3,10] (the published keep-range —
    // template spam and symbol soup fall outside it)
    val lex = graft.operators.CorpusStats.lexicalDiversity(deduped, "doc_id", "text")
      .select(col("doc_id"), col("ttr"), col("mean_word_len"))
    // topic handle: each survivor's top RAKE phrase; the rollup counts
    // DISTINCT phrases per language — a cheap topic-diversity signal
    // (template corpora collapse to few phrases, organic ones fan out)
    val topic = graft.operators.Rake.keywords(deduped, "doc_id", "text",
        gf.EnglishStopwords ++ Seq("data", "table", "row", "key", "value", "line"),
        maxPhraseLen = 4, topK = 1)
      .select(col("doc_id"), col("phrase").as("top_phrase"))
    deduped
      .join(spans, Seq("doc_id"), "left")
      .join(lm, Seq("doc_id"), "left")
      .join(cc, Seq("doc_id"), "left")
      .join(ppr, Seq("doc_id"), "left")
      .join(lex, Seq("doc_id"), "left")
      .join(topic, Seq("doc_id"), "left")
      .where(coalesce(col("dup_frac"), lit(0.0)) < 0.8) // drop near-copied docs
      .where(coalesce(col("mean_word_len"), lit(4.0)).between(3.0, 10.0))
      // HARD Gopher+C4 gate on the INGEST rows only: the real mixed-format
      // corpus is long-form and can take the published hard gates. The
      // synthetic parquet docs are short (median ~56 words vs Gopher's
      // ≥50-word floor), so their verdicts ride as per-group RATES below —
      // hard-gating them would halve the corpus for being short, a corpus
      // property, not a quality signal. The asymmetry is deliberate and
      // visible in the rollup: src_class='ingest' rows are survivors of the
      // gate (keep rates 1.0 by construction), 'corpus' rows carry rates.
      .where(col("source") =!= "ingest" ||
             (gf.gopherKeep(col("text")) && gf.c4Keep(col("text"))))
      .select(when(col("source") === "ingest", lit("ingest"))
          .otherwise(lit("corpus")).as("src_class"),
        col("lang"),
        gf.tokenCount(col("text")).cast("long").as("toks"),
        size(gf.chunkTokens(col("text"), 512, 64)).cast("long").as("chunks"),
        gf.qualityScore(col("text")).as("q"),
        gf.compressionRatio(col("text")).as("cr"),
        col("mean_bits"),
        col("ttr"),
        // the published filter verdicts ride as per-language RATES (the
        // synthetic docs are short; a hard >=50-word Gopher gate would
        // halve the corpus, which is a corpus property, not a signal)
        gf.gopherKeep(col("text")).cast("long").as("gopher_ok"),
        gf.c4Keep(col("text")).cast("long").as("c4_ok"),
        // round-10 signals: curriculum difficulty (FK milli-grade), the
        // denoising-objective mask volume this corpus would yield, and a
        // PII-hygiene rate (Luhn-valid card numbers, not just digit runs)
        gf.readabilityStats(col("text")).getField("fk_milli").as("fk"),
        gf.spanCorrupt(col("doc_id"), col("text")).getField("n_masked").as("masked"),
        gf.luhnValid(regexp_extract(col("text"),
          gf.CardCandidatePattern, 0)).cast("long").as("has_cc"),
        coalesce(col("coeff"), lit(0.0)).as("coeff"),
        coalesce(col("ppr"), lit(0L)).as("ppr"),
        col("top_phrase"))
      .groupBy(col("src_class"), col("lang").as("key"))
      .agg(count(lit(1)).as("count"),
        sum(col("toks")).as("tokens"),
        sum(col("chunks")).as("train_chunks"),
        graft.functions.gf.roundHalfUp(avg(col("q")), 4).as("avg_quality"),
        graft.functions.gf.roundHalfUp(avg(col("cr")), 4).as("avg_compress"),
        graft.functions.gf.roundHalfUp(avg(col("mean_bits")), 4).as("avg_surprise_bits"),
        graft.functions.gf.roundHalfUp(avg(col("ttr")), 4).as("avg_lexical_ttr"),
        graft.functions.gf.roundHalfUp(avg(col("gopher_ok")), 4).as("gopher_keep_rate"),
        graft.functions.gf.roundHalfUp(avg(col("c4_ok")), 4).as("c4_keep_rate"),
        graft.functions.gf.roundHalfUp(avg(col("coeff")), 4).as("avg_dup_clustering"),
        round(avg(col("fk").cast("double")), 1).as("avg_fk_milli"),
        sum(col("masked")).as("span_masked_blocks"),
        graft.functions.gf.roundHalfUp(avg(col("has_cc").cast("double")), 4).as("cc_rate"),
        sum(col("ppr")).as("seed_proximity_mass"),
        countDistinct(col("top_phrase")).as("n_topics"))
      .orderBy(desc("count"), col("src_class"), col("key"))
  }

  // ------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans / filters (SURVEY §2.3: filter, basic-filter predicates)
    "q_filter_range" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
               col("l_shipdate") <  lit("1996-01-01").cast("timestamp") &&
               col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "q_match_filter" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .where(col("text").contains("spark join") && col("lang") === "en")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),
    "q_range_filter" -> ((s, dir) => {
      events(s, dir)
        .where(col("value").between(100.0, 150.0) && col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), cents(col("value")).as("value_cents"))
        .orderBy(col("event_id"))
    }),

    // ---- projections / maps (§2.3: map, with_property, augment_text, regex_replace)
    "q_map_project" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("revenue_c4"))
        .where(col("l_orderkey") <= 100)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "q_regex_replace" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          substring(regexp_replace(col("text"), "spark", "SPARK"), 1, 60).as("snippet"))
        .orderBy(col("doc_id"))
    }),
    "q_augment_text" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("["), col("lang"), lit("] "), substring(col("text"), 1, 40)).as("augmented"))
        .orderBy(col("doc_id"))
    }),

    // ---- aggregations (§2.6)
    "q_count" -> ((s, dir) =>
      tbl(s, dir, "lineitem").agg(count(lit(1)).as("cnt"))),
    "q_count_distinct" -> ((s, dir) =>
      tbl(s, dir, "lineitem").agg(countDistinct(col("l_partkey")).as("cnt"))),
    "q_groupby_count" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("key"))
        .agg(count(lit(1)).as("count"))
        .orderBy(col("key"))
    }),
    "q_groupby_count_unique" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("key"))
        .agg(countDistinct(col("l_orderkey")).as("count"))
        .orderBy(col("key"))
    }),
    "q_agg_pricing" -> ((s, dir) => {
      // TPC-H Q1 shape in exact cents math.
      val li = tbl(s, dir, "lineitem")
      li.where(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_c"),
          sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("sum_disc_c4"),
          sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))) *
              (lit(100L) + cents(col("l_tax")))).as("sum_charge_c6"),
          count(lit(1)).as("n"))
        .withColumn("avg_qty", col("sum_qty").cast("double") / col("n"))
        .withColumn("avg_price_c", col("sum_base_c").cast("double") / col("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q_aggregate" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          count(lit(1)).as("n_orders"),
          min(cents(col("o_totalprice"))).as("min_c"),
          max(cents(col("o_totalprice"))).as("max_c"),
          sum(cents(col("o_totalprice"))).as("sum_c"))
        .withColumn("avg_c", col("sum_c").cast("double") / col("n_orders"))
        .orderBy(col("o_custkey"))
    }),
    "q_reduce" -> ((s, dir) => {
      // groupwise deterministic reduce (reference sorts sub_docs before fn:
      // transforms/aggregation.py:221) — here: sorted concat per group.
      tbl(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(concat_ws(",", sort_array(collect_list(col("o_orderstatus")))).as("statuses"))
        .orderBy(col("o_custkey"))
    }),
    "q_rake" -> ((s, dir) =>
      // RAKE keyword phrases (sum-ratio scoring - one rounded division,
      // integer aggregates; see Rake scaladoc): English stoplist plus the
      // corpus's domain fillers as delimiters, top 3 per doc
      graft.operators.Rake.keywords(tbl(s, dir, "documents"),
        "doc_id", "text",
        stopwords = gf.EnglishStopwords ++ Seq("data", "table", "row", "key", "value", "line"),
        maxPhraseLen = 4, topK = 3)),
    "q_term_frequency" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .where(col("doc_id") < 10)
        .select(col("doc_id"), explode(gf.tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
        .orderBy(col("doc_id"), col("token"))
    }),

    // ---- sorts / limits / top-k / sampling (§2.7)
    "q_sort_topk" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), cents(col("l_extendedprice")).as("price_c"))
        .orderBy(desc("price_c"), col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    }),
    "q_limit" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
        .limit(10)
    }),
    "q_topk_groups" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("event_type").as("key"))
        .agg(count(lit(1)).as("count"))
        .orderBy(desc("count"), col("key"))
        .limit(5)
    }),
    "q_random_sample" -> ((s, dir) => {
      // the REPRODUCIBLE form of random sampling, through the DocSet API:
      // DocSet.sampleByHash under a declared seed salt — membership is a
      // pure function of the key, so the oracle replays it exactly.
      // Bernoulli `randomSample(fraction, seed)` (engine RNG, no
      // cross-engine oracle possible) remains the API's other half,
      // unit-covered in DocSetSpec.
      graft.sources.DocRead.fromDataFrame(
          tbl(s, dir, "documents"), Some("doc_id"), Some("text"))
        .sampleByHash(0.2, salt = "rs42")
        .toDF.select(col("docId").cast("long").as("doc_id"))
        .orderBy(col("doc_id"))
    }),
    "q_sample_hash" -> ((s, dir) => {
      // deterministic hash sampling (DocSet.sampleByHash shape): membership
      // is a pure function of the key, so the oracle replays it exactly —
      // the reproducible train/holdout split a corpus pipeline needs.
      val k = col("doc_id").cast("string")
      tbl(s, dir, "documents")
        .where(pmod(gf.polyFingerprint(
          concat(k, lit(":split1:"), k)), lit(10000L)) < 1000L)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),
    "q_quality_score" -> ((s, dir) => {
      // composite C4/Gopher-style quality score — weighted blend of the
      // individually-oracled component ratios, same fold order both engines.
      tbl(s, dir, "documents")
        .select(col("doc_id"), gf.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // ---- joins / set ops (§2.5)
    "q_field_in" -> ((s, dir) => {
      val customer = tbl(s, dir, "customer")
      val nation = tbl(s, dir, "nation").where(col("n_regionkey") === 2)
      customer.join(broadcast(nation),
          customer("c_nationkey") === nation("n_nationkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    "q_union" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      o.where(col("o_orderstatus") === "F").unionAll(o.where(col("o_totalprice") > 100000.0))
        .groupBy(col("o_orderstatus").as("key"))
        .agg(count(lit(1)).as("count"))
        .orderBy(col("key"))
    }),
    "q_intersect" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      o.where(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersect(o.where(col("o_orderstatus") === "O").select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),
    "q_except" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      o.where(col("o_orderstatus") === "F").select(col("o_custkey"))
        .except(o.where(col("o_orderstatus") === "O").select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),
    "q_join_inner" -> ((s, dir) => {
      // fact ⋈ broadcast dims; revenue per nation in exact cents.
      val orders = tbl(s, dir, "orders")
      val customer = tbl(s, dir, "customer")
      val nation = tbl(s, dir, "nation")
      orders
        .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"), sum(cents(col("o_totalprice"))).as("revenue_c"))
        .orderBy(col("n_name"))
    }),
    "q_join_left" -> ((s, dir) => {
      val customer = tbl(s, dir, "customer")
      val orders = tbl(s, dir, "orders")
      customer.join(orders, customer("c_custkey") === orders("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    }),

    // ---- restructuring (§2.4: unroll/explode)
    "q_unroll" -> ((s, dir) => {
      tbl(s, dir, "part")
        .select(col("p_partkey"), explode(split(col("p_type"), " ")).as("word"))
        .orderBy(col("p_partkey"), col("word"))
    }),

    "q_reconstruct" -> ((s, dir) => {
      // chunk each doc into 50-codepoint elements, explode to chunk-docs,
      // then reconstruct() must reassemble the original: element count and
      // the index-ordered concatenation both oracle-checked against the
      // untouched source text.
      val docs = graft.sources.DocRead.fromDataFrame(
        tbl(s, dir, "documents"), Some("doc_id"), Some("text"))
      val chunked = docs.map { d =>
        val cps = d.text.codePoints.toArray
        val els = cps.grouped(50).zipWithIndex.map { case (a, i) =>
          graft.model.Element.text(i, "chunk", new String(a, 0, a.length))
        }.toSeq
        d.copy(elements = els)
      }
      chunked.explode().reconstruct()
        .toDF
        .select(col("docId").cast("long").as("doc_id"),
          size(col("elements")).cast("long").as("n_elements"),
          array_join(transform(col("elements"),
            e => e.getField("textRepresentation")), "").as("text_r"))
        .orderBy(col("doc_id"))
    }),

    "q_attr_properties" -> ((s, dir) => {
      // property ATTRIBUTION, exact arm (SQL-replayable): chunk each doc
      // into 60-char elements; the "extracted" value is chars 61-72 of the
      // full text — always exactly inside chunk 1 by construction, so the
      // first containing element is chunk 0 (when the value repeats there)
      // or chunk 1, replayed in the oracle with two strpos probes. The
      // fuzzy arm is engine-specific (LCS) and stays unit-pinned.
      val base = tbl(s, dir, "documents").where(length(col("text")) >= 73)
      val docs = graft.sources.DocRead.fromDataFrame(base, Some("doc_id"), Some("text"))
      docs.map { d =>
        val t = d.text
        val els = t.grouped(60).zipWithIndex
          .map { case (c, i) => graft.model.Element.text(i, "chunk", c) }.toSeq
        d.copy(elements = els,
          properties = d.properties + ("val" -> t.substring(60, 72)))
      }
        .attributeProperties(Seq("val"))
        .toDF
        .select(col("docId").cast("long").as("doc_id"),
          element_at(col("properties"), "val._attr_element").cast("long").as("attr_element"),
          element_at(col("properties"), "val._attr_start").cast("long").as("attr_start"),
          element_at(col("properties"), "val._attr_score_milli").cast("long").as("score_milli"))
        .orderBy(col("doc_id"))
    }),

    "q_docset_query" -> ((s, dir) => {
      // Query-as-document through the search seam (DocSet.query, reference
      // docset.py:1351): the documents table is ingested into the
      // deterministic fake index ONCE (ensureIndex — idempotent across
      // bench re-runs), then a tiny corpus of query-documents — one term
      // query per distinct lang plus one full-text match — maps to result
      // documents whose hit elements explode to (query_id, doc_id) rows
      // the oracle replays as plain SQL predicates.
      import graft.sources._
      val ns = s"qdq:$dir"
      val index = "docs"
      FakeSearch.ensureIndex(ns, index) {
        tbl(s, dir, "documents").select("doc_id", "text", "lang", "source")
          .collect().toSeq.map { r =>
            SearchHit(f"d${r.getLong(0)}%09d", 1.0, Map(
              "doc_id" -> r.getLong(0).toString,
              "text" -> r.getString(1),
              "properties.lang" -> r.getString(2),
              "properties.source" -> r.getString(3)))
          }
      }
      val langs = tbl(s, dir, "documents").select(col("lang")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val qdocs = langs.map { l =>
        graft.model.Document.of(s"lang_$l",
          text = SearchWire.queryJson(SearchQuery.Term("lang", l)).toString,
          properties = Map("index" -> index))
      } :+ graft.model.Document.of("match_sparkwindow",
        text = SearchWire.queryJson(SearchQuery.Match("text", "spark window")).toString,
        properties = Map("index" -> index))
      graft.docset.DocSet.of(s, qdocs)
        .query(FakeSearchClientFactory(ns))
        .toDF
        .select(col("docId").as("query_id"), explode(col("elements")).as("e"))
        .select(col("query_id"),
          element_at(col("e.properties"), "doc_id").cast("long").as("doc_id"))
        .orderBy(col("query_id"), col("doc_id"))
    }),

    "q_standardize" -> ((s, dir) => {
      // standardizers end-to-end through the Document map API (reference
      // standardizer.py USStateStandardizer + DateTimeStandardizer): each
      // doc gets a SYNTHESIZED location/date derived from its id, so the
      // oracle constructs the expected normalized outputs directly — the
      // machinery under test is the dotted-path field plumbing + token
      // replace + multi-format date parse.
      val abbrs = graft.operators.Standardizers.UsStates.keys.toSeq.sorted
      val docs = graft.sources.DocRead.fromDataFrame(
        tbl(s, dir, "documents").select("doc_id", "text"),
        Some("doc_id"), Some("text"))
      docs.map { d =>
        val id = d.docId.toLong
        val loc = s"City ${id % 100}, ${abbrs((id % abbrs.size).toInt)}"
        val date = (id % 3) match {
          case 0 => "2023-07-01"
          case 1 => "07/15/2023 10:30:00"
          case _ => "March 5, 2021"
        }
        val std = graft.operators.Standardizers.usState("properties.location")(
          d.withProp("location", loc).withProp("event_date", date))
        graft.operators.Standardizers.dateTime("properties.event_date")(std)
      }.toDF
        .select(col("docId").cast("long").as("doc_id"),
          element_at(col("properties"), "location").as("location"),
          element_at(col("properties"), "event_date").as("event_iso"),
          element_at(col("properties"), "day").as("day"))
        .orderBy(col("doc_id"))
    }),

    "q_pii_iban" -> ((s, dir) => {
      // ISO 13616 mod-97 IBAN validity over per-id synthesized account
      // strings (check digits = id % 97, so validity varies across rows):
      // both engines run the identical left fold — int64, fixed order.
      val iban = concat(lit("DE"),
        lpad((col("doc_id") % 97).cast("string"), 2, "0"),
        lpad(((col("doc_id") * 7919L) % 1000000000000000000L).cast("string"),
          18, "0"))
      tbl(s, dir, "documents").select(col("doc_id"), iban.as("iban"))
        .withColumn("valid", gf.ibanValid(col("iban")))
        .orderBy(col("doc_id"))
    }),

    "q_markdown" -> ((s, dir) => {
      // markdown rendering end-to-end (reference transforms/markdown.py):
      // deterministic per-doc elements (title / narrative / list item /
      // caption + a 2x2 header table) render to one blob the oracle
      // replays as string concatenation — newlines and all.
      val docs = graft.sources.DocRead.fromDataFrame(
        tbl(s, dir, "documents").select("doc_id", "text", "lang"),
        Some("doc_id"), Some("text"))
      docs.map { d =>
        val id = d.docId
        // FULL text, not a take(n): a JVM take counts UTF-16 units while
        // the oracle's substr counts code points — they disagree on astral
        // characters, and the whole text concatenates identically anyway
        val body = d.text
        val els = Seq(
          graft.model.Element.text(0, "Title", s"Doc $id"),
          graft.model.Element.text(1, "NarrativeText", body),
          graft.model.Element.text(2, "List-item", s"id $id"),
          graft.model.Element(
            elementType = "table", textRepresentation = None,
            binaryRepresentation = None, bbox = None, embedding = None,
            elementIndex = 3,
            tableCells = Seq(
              graft.model.TableCell("k", Array(0), Array(0), isHeader = true, None),
              graft.model.TableCell("v", Array(0), Array(1), isHeader = true, None),
              graft.model.TableCell("doc", Array(1), Array(0), isHeader = false, None),
              graft.model.TableCell(id, Array(1), Array(1), isHeader = false, None)),
            properties = Map.empty),
          graft.model.Element.text(4, "Caption", s"caption $id"))
        graft.operators.Markdown.toMarkdown(d.copy(elements = els))
      }.toDF
        .select(col("docId").cast("long").as("doc_id"),
          col("textRepresentation").as("md"))
        .orderBy(col("doc_id"))
    }),

    "q_docset_query_knn" -> ((s, dir) => {
      // the KNN arm of DocSet.query (SearchRead.queryDocs knn branch,
      // reference docset.py:1351 + query_database.py:81): the embeddings
      // table is ingested into the fake index WITH vectors, then a corpus
      // of knn query-documents — three one-hot query vectors plus one with
      // a label filter — maps to result documents whose hit elements
      // explode to (query_id, vec_id) rows. One-hot query vectors are
      // exactly replayable as oracle list literals (the q_nlq_vector
      // pattern), so score ordering needs no float to cross the hash.
      import graft.sources._
      val ns = s"qdqk:$dir"
      val index = "vecs"
      FakeSearch.ensureIndex(ns, index) {
        tbl(s, dir, "embeddings").select("vec_id", "embedding", "label")
          .collect().toSeq.map { r =>
            SearchHit(f"v${r.getLong(0)}%09d", 1.0, Map(
              "doc_id" -> r.getLong(0).toString,
              "properties.label" -> r.getInt(2).toString),
              Some(r.getSeq[Float](1).toArray))
          }
      }
      def oneHot(idx: Int): Array[Float] =
        Array.tabulate(64)(i => if (i == idx) 1.0f else 0.0f)
      val qdocs = Seq(3, 17, 42).map { idx =>
        graft.model.Document.of(f"knn_$idx%02d",
          text = SearchWire.queryJson(SearchQuery.Knn(oneHot(idx), 8)).toString,
          properties = Map("index" -> index))
      } :+ graft.model.Document.of("knn_f03",
        text = SearchWire.queryJson(SearchQuery.Knn(oneHot(3), 8,
          Some(SearchQuery.Term("properties.label", "1")))).toString,
        properties = Map("index" -> index))
      graft.docset.DocSet.of(s, qdocs)
        .query(FakeSearchClientFactory(ns))
        .toDF
        .select(col("docId").as("query_id"), explode(col("elements")).as("e"))
        .select(col("query_id"),
          element_at(col("e.properties"), "doc_id").cast("long").as("vec_id"))
        .orderBy(col("query_id"), col("vec_id"))
    }),

    // ---- window / analytic (§2.11 gap we fill natively)
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), cents(col("o_totalprice")).as("price_c"))
        .orderBy(col("o_custkey"), col("rn"))
    }),
    "q_window_running" -> ((s, dir) => {
      // order by µs + event_id: sub-µs ordering is invisible to the oracle.
      val w = Window.partitionBy(col("user_id")).orderBy(expr("ts div 1000"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .withColumn("running_c", sum(cents(col("value"))).over(w))
        .select(col("user_id"), col("event_id"), col("running_c"))
        .orderBy(col("user_id"), col("event_id"))
    }),
    "q_sessionize" -> ((s, dir) => {
      // 30-minute-gap sessionization. Micros, not nanos: DuckDB truncates
      // parquet TIMESTAMP(NANOS) to micros, so the oracle can only see µs.
      val gapUs = 30L * 60 * 1000000L
      val ev = events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      ev
        .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), (max(col("ts_us")) - min(col("ts_us"))).as("dur_us"))
        .orderBy(col("user_id"), col("session_id"))
    }),
    "q_time_window" -> ((s, dir) => {
      // tumbling 1h windows on int64 nanos: hour bucket = ts - (ts mod 3600e9).
      val hourNs = 3600L * 1000000000L
      events(s, dir)
        .groupBy((col("ts") - (col("ts") % hourNs)).as("hour_ns"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_c"))
        .orderBy(col("hour_ns"), col("event_type"))
    }),
    "q_resample_locf" -> ((s, dir) =>
      // hourly resample per event type with last-observation-carried-
      // forward over the global grid (gaps exist: ~40 empty hours per
      // type at gate SF); LOCF windows run over grid rows, never events
      graft.operators.EventAnalytics.locfGrid(events(s, dir),
        "event_type", "ts", cents(col("value")), stepNs = 3600L * 1000000000L)),
    "q_cdc_merge" -> ((s, dir) => {
      // changelog MERGE into a snapshot: base = orders with key%3!=0;
      // deletes (%7==0), updates (%7==1, cents+100; %14==1 gets a SECOND
      // later update +200 - the seq race the merge must win), inserts
      // (%7==2 re-inserting keys missing from base)
      val o = tbl(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), cents(col("o_totalprice")).as("cents"))
      val base = o.where(col("k") % 3 =!= 0)
      val k = col("k")
      val ch1 = o.where(k % 7 === 0)
        .select(k, col("cust"), col("cents"), lit("D").as("op"), lit(1L).as("seq"))
      val ch2 = o.where(k % 7 === 1)
        .select(k, col("cust"), (col("cents") + 100L).as("cents"),
          lit("U").as("op"), lit(1L).as("seq"))
      val ch3 = o.where(k % 14 === 1)
        .select(k, col("cust"), (col("cents") + 200L).as("cents"),
          lit("U").as("op"), lit(2L).as("seq"))
      val ch4 = o.where(k % 7 === 2 && k % 3 === 0)
        .select(k, col("cust"), col("cents"), lit("I").as("op"), lit(1L).as("seq"))
      graft.operators.Cdc.applyChanges(base,
        ch1.unionAll(ch2).unionAll(ch3).unionAll(ch4), Seq("k"), "op", "seq")
        .orderBy(col("k"))
    }),
    "q_scd2" -> ((s, dir) =>
      // SCD2 history build: each user's event stream as a state machine of
      // their latest event_type — consecutive same-type events compress,
      // intervals are [valid_from, valid_to) in int64 nanos
      graft.operators.Scd2.build(events(s, dir), "user_id", "ts",
        attrs = Seq("event_type"))),

    // ---- semi-structured (§1.3 dynamic properties; events.props is JSON)
    "q_json_extract" -> ((s, dir) => {
      events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("k"))
    }),

    // ---- scalar math op (query layer's Math operator, query/operators/math.py)
    "q_math" -> ((s, dir) => {
      val o = tbl(s, dir, "orders").agg(
        sum(cents(col("o_totalprice"))).as("sum_c"), count(lit(1)).as("n"))
      o.select((col("sum_c").cast("double") / col("n")).as("avg_order_c"))
    }),

    // ---- text analysis (training-data ops)
    "q_token_count" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          gf.tokenCount(col("text")).cast("long").as("n_ws"),
          gf.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"))
        .orderBy(col("doc_id"))
    }),
    "q_quality" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          gf.punctCount(col("text")).cast("long").as("n_punct"),
          graft.functions.gf.roundHalfUp(gf.alphaRatio(col("text")), 6).as("alpha_ratio"),
          graft.functions.gf.roundHalfUp(gf.stopwordRatio(col("text")), 6).as("stop_ratio"),
          graft.functions.gf.roundHalfUp(gf.meanTokenLength(col("text")), 6).as("mean_tok_len"))
        .orderBy(col("doc_id"))
    }),
    "q_langid" -> ((s, dir) => {
      // deterministic stopword-argmax heuristic -> exact SQL oracle.
      tbl(s, dir, "documents")
        .select(col("doc_id"), gf.langId(col("text")).as("lang_detected"))
        .orderBy(col("doc_id"))
    }),
    "q_fingerprint" -> ((s, dir) => {
      // rolling modular hash — mirrored exactly by DuckDB list_reduce.
      // Single codegen'd expression; the composed aggregate(split(...))
      // form allocates a per-character array per row.
      tbl(s, dir, "documents")
        .select(col("doc_id"), gf.polyFingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    "q_pii_scrub" -> ((s, dir) => {
      // deterministic PII is appended to each doc so the redaction regexes
      // (gf.PiiPatterns: email, ssn, phone, ipv4 — Java regex and RE2
      // agree on all four) are genuinely exercised and oracle-checked.
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          gf.scrubPii(concat(
            substring(col("text"), 1, 40),
            lit(" reach user"), col("doc_id").cast("string"),
            lit("@mail.example.org or 10.20.30.40; ssn 123-45-6789; tel +1 555-123-4567.")))
            .as("clean"))
        .orderBy(col("doc_id"))
    }),
    "q_pii_luhn" -> ((s, dir) => {
      // Luhn validity over deterministic per-doc candidates (the synthetic
      // corpus carries no card numbers): a 16-digit "4" + zero-padded
      // doc_id + (doc_id mod 10) check digit — ~10% pass the checksum, so
      // both branches are exercised. scrubCreditCards then proves only the
      // VALID numbers get redacted out of a formatted sentence.
      val cc = concat(lit("4"), lpad(col("doc_id").cast("string"), 14, "0"),
        (col("doc_id") % 10).cast("string"))
      val sentence = concat(lit("order "), col("doc_id").cast("string"),
        lit(" card "), cc, lit(" thanks"))
      tbl(s, dir, "documents")
        .select(col("doc_id"), cc.as("cc"),
          gf.luhnValid(cc).as("valid"),
          gf.scrubCreditCards(sentence).as("scrubbed"))
        .orderBy(col("doc_id"))
    }),
    "q_readability" -> ((s, dir) => {
      // Flesch-Kincaid counts + exact milli-grade (see gf.readabilityStats
      // for the integer formulation; no float ratios cross the engines).
      tbl(s, dir, "documents")
        .select(col("doc_id"), gf.readabilityStats(col("text")).as("r"))
        .select(col("doc_id"),
          col("r.n_words").as("n_words"),
          col("r.n_sentences").as("n_sentences"),
          col("r.n_syllables").as("n_syllables"),
          col("r.fk_milli").as("fk_milli"))
        .orderBy(col("doc_id"))
    }),
    "q_repetition" -> ((s, dir) => {
      // Gopher-style repetition signals: duplicate-line fraction (lines
      // synthesized from sentence breaks so the signal is non-trivial) and
      // top-bigram fraction. Both statistics are row-local, so they compute
      // in one scan with ZERO shuffles via the single-pass TopCountExpr —
      // an earlier relational form (explode -> two-level aggregate -> join
      // back) exchanged every (doc, bigram) pair for a per-row number.
      tbl(s, dir, "documents")
        .select(col("doc_id"), regexp_replace(col("text"), "\\. ", "\n").as("t"))
        .select(col("doc_id"), col("t"), gf.wordShingles(col("t"), 2).as("bgs"))
        .select(col("doc_id"),
          graft.functions.gf.roundHalfUp(gf.dupLineFraction(col("t")), 6).as("dup_line_frac"),
          graft.functions.gf.roundHalfUp(gf.topCount(col("bgs")).cast("double") /
            size(col("bgs")).cast("double"), 6).as("top_bigram_frac"))
        .orderBy(col("doc_id"))
    }),
    "q_gopher_repetition" -> ((s, dir) => {
      // the FULL Gopher A1.2 repetition-removal signal set (12 rules), one
      // codegen'd row-local pass, exact-integer outputs. Line/paragraph
      // structure is synthesized deterministically (the synthetic docs are
      // single-line): ' table ' -> blank line, ' the ' -> newline — the same
      // left-to-right literal replaces the oracle applies.
      import graft.functions.RepetitionStatsExpr.{DupNs, TopNs}
      val fields = Seq("n_lines", "dup_lines", "line_chars", "dup_line_chars",
        "n_paras", "dup_paras", "para_chars", "dup_para_chars", "word_chars") ++
        TopNs.map(n => s"top${n}_chars") ++ DupNs.map(n => s"dup${n}_chars")
      // sort BEFORE the expensive map: a final orderBy's range-sampling
      // pass would execute the whole repetitionStats projection a second
      // time; sorting the narrow (doc_id, text) input first means the
      // sampler scans only doc_id and the map runs once, order preserved
      // (Project never reorders rows)
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
        .select(col("doc_id"),
          regexp_replace(regexp_replace(col("text"), " table ", "\n\n"),
            " the ", "\n").as("t"))
        .select(col("doc_id"), gf.repetitionStats(col("t")).as("r"))
        .select(col("doc_id") +: (fields.map(f => col(s"r.$f").as(f)) :+
          gf.repetitionKeep(col("r")).cast("long").as("keep")): _*)
    }),

    // ---- dedup family (training-data ops; scalable redesign of
    //      reference's SketchUniquify, transforms/sketcher.py:64)
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exact(tbl(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_copies"))
        .orderBy(col("doc_id"))
    }),
    "q_dedup_rows" -> ((s, dir) => {
      Dedup.exactRows(tbl(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),
    "q_dedup_keep_best" -> ((s, dir) => {
      // retention-priority exact dedup: keep the FRESHEST copy (highest
      // id, a recrawl stand-in) per duplicate group — the corpus has no
      // natural exact dups at this SF, so the gate constructs them by
      // unioning a doctored higher-id copy of every 7th document; min-id
      // dedup (q_dedup_rows) would keep the originals, keep-best must
      // keep the doctored copies
      val d = tbl(s, dir, "documents")
      val recrawl = d.where(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      Dedup.exactRowsKeepBest(d.unionByName(recrawl), "doc_id", "text",
          col("doc_id").cast("double"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),
    "q_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(tbl(s, dir, "documents"), "doc_id", "text",
          shingleSize = 5, threshold = 0.5)
        .select(col("idA"), col("idB"), graft.functions.gf.roundHalfUp(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("idA"), col("idB"))
    }),
    "q_containment" -> ((s, dir) =>
      // ordered shingle-containment pairs ("inner quoted inside outer") —
      // Jaccard misses a paragraph embedded in a much longer page; the
      // threshold is pure integer cross-multiplication
      Dedup.containmentPairs(tbl(s, dir, "documents"), "doc_id", "text",
          shingleSize = 5, tauPermille = 700)
        .orderBy(col("inner_id"), col("outer_id"))),
    "q_rolling_window" -> ((s, dir) =>
      // trailing 24h per-user rolling features (count + exact cents sum)
      // at every event — ONE key-partitioned RANGE-frame pass
      graft.operators.EventAnalytics.rollingByKey(
          events(s, dir).withColumn("ts_us", expr("ts DIV 1000")),
          "user_id", "ts_us", cents(col("value")), 86400000000L)
        .orderBy(col("user_id"), col("t"), col("n_window"))),
    "q_minhash_dedup" -> ((s, dir) => {
      // SQL-replicable polynomial minhash (MinHashPolyExpr) -> DuckDB
      // recomputes the identical 16-slot signature, replays the band rule
      // (bands share iff their 4 slots are equal) and the est-jaccard >= 0.5
      // verify, and derives the same greedy drop set. Production keeps the
      // xxhash64 signature; only the gate swaps in the poly variant.
      Dedup.minhashLsh(tbl(s, dir, "documents"), "doc_id", "text",
          signature = Some(t => gf.minhashPoly(gf.wordShingles(t, 5), 16)))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),
    "q_dedup_incremental" -> ((s, dir) => {
      // incremental curation: even doc_ids are the already-curated HISTORY
      // (reduced to fingerprints — 192-bit exact key + poly minhash sig),
      // odd doc_ids are the new batch. History-matched rows drop first
      // (exact anti-join + band/est rule, no id ordering vs history), then
      // the greedy within-batch rule runs over the survivors.
      val sigFn = (t: org.apache.spark.sql.Column) =>
        gf.minhashPoly(gf.wordShingles(t, 5), 16)
      val docs = tbl(s, dir, "documents")
      val hist = Dedup.fingerprints(docs.where(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "text", signature = Some(sigFn))
      Dedup.dedupIncrement(docs.where(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text", hist, signature = Some(sigFn))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),
    "q_asof_join" -> ((s, dir) => {
      // point-in-time: each purchase joins the user's latest prior (or
      // simultaneous) click. Micros on both sides; the oracle compares at
      // µs too (a native ASOF JOIN on the raw ns timestamps would diverge
      // for same-µs events) and replays the (ts_us, click_id)-max tie rule.
      val ev = events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"), col("event_id").as("click_id"))
      graft.operators.AsofJoin.asofBackward(purchases, clicks, "user_id", "ts_us")
        .orderBy(col("event_id"))
    }),
    "q_percentiles" -> ((s, dir) => {
      // exact (sort-based) per-group percentiles — the distribution stats a
      // curation run reports per language; percentile_cont interpolation
      // matches DuckDB's quantile_cont definition (rank = p*(n-1))
      tbl(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(graft.functions.gf.roundHalfUp(percentile(col("n_chars"), lit(0.5)), 4).as("p50"),
          graft.functions.gf.roundHalfUp(percentile(col("n_chars"), lit(0.9)), 4).as("p90"),
          count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }),
    "q_sample_stratified" -> ((s, dir) => {
      // per-language fractions rebalance the skewed corpus (en dominates),
      // reproducibly and shuffle-free
      graft.operators.Sampling.stratifiedByHash(
          tbl(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 0.2, "de" -> 0.5, "zh" -> 1.0), salt = "strat1")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),
    "q_cap_per_group" -> ((s, dir) => {
      // reproducible "no source contributes more than 7 docs" cap; the
      // oracle replays the hash order
      graft.operators.Sampling.capPerGroup(
          tbl(s, dir, "documents"), "doc_id", "source", k = 7, salt = "cap1")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),
    "q_source_overlap" -> ((s, dir) => {
      // split-contamination audit: distinct shared 5-gram shingles per
      // source pair (20 sources -> <=190 rows out, whatever the corpus size)
      Dedup.crossGroupOverlap(tbl(s, dir, "documents"), "source", "text", n = 5)
        .orderBy(col("grpA"), col("grpB"))
    }),
    "q_skew_join" -> ((s, dir) => {
      // salted fact-dim join (events x per-user totals): result must equal
      // the plain equi-join — salting changes task shape, never the answer
      val ev = events(s, dir)
      val dim = ev.groupBy(col("user_id"))
        .agg(sum(cents(col("value"))).as("user_total_c"))
      graft.operators.SkewJoin.salted(
          ev.select(col("event_id"), col("user_id")), dim,
          Seq("user_id"), saltFactor = 8)
        .select(col("event_id"), col("user_id"), col("user_total_c"))
        .orderBy(col("event_id"))
    }),
    "q_token_mixture" -> ((s, dir) => {
      // per-language keep fractions DERIVED from observed token mass
      // (min(1, budget/tokens)), applied via the deterministic hash rule —
      // fr has no budget (dropped), zh's budget exceeds its mass (kept
      // whole), en/de/es downsample
      graft.operators.Sampling.tokenBudgetMixture(
          tbl(s, dir, "documents"), "doc_id", "lang",
          gf.tokenCount(col("text")),
          Map("en" -> 5000L, "de" -> 2000L, "es" -> 1000L, "zh" -> 1000000000L),
          salt = "mix1")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),
    "q_epoch_mixture" -> ((s, dir) =>
      // fractional-epoch UPsampling (the repetition half of mixture
      // policy): en's budget is ~2.x its n_chars mass (docs repeat, the
      // hash-selected slice gets an extra copy), de ~1x, fr fractional
      // (downsample), es unbudgeted (dropped). Output carries the 0-based
      // copy index.
      graft.operators.Sampling.epochMixture(
          tbl(s, dir, "documents"), "doc_id", "lang",
          col("n_chars"),
          Map("en" -> 2000000L, "de" -> 120000L, "fr" -> 30000L),
          salt = "ep1")
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))),
    "q_temperature_mixture" -> ((s, dir) =>
      // mT5-style α=1/2 temperature flattening over languages: draw
      // probability ∝ sqrt(count) — head languages downsample hardest,
      // tail languages keep the largest fraction (see temperatureMixture)
      graft.operators.Sampling.temperatureMixture(
          tbl(s, dir, "documents"), "doc_id", "lang",
          budgetDocs = 150L, alphaQuarters = 2, salt = "temp1")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),
    "q_dedup_cc" -> ((s, dir) => {
      // transitive duplicate classes: path-graph edges (consecutive doc_ids
      // per lang) are the adversarial case for chained near-dup relations —
      // greedy min-id dedup cannot close them, connected components must
      val d = tbl(s, dir, "documents")
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      val edges = d
        .select(col("doc_id"), lead(col("doc_id"), 1).over(w).as("next_id"))
        .where(col("next_id").isNotNull)
      Dedup.connectedComponents(edges, "doc_id", "next_id").orderBy(col("id"))
    }),
    "q_group_split" -> ((s, dir) => {
      // leakage-safe split: near-dup groups (here: chains of 5 consecutive
      // doc_ids — 100 components at gate SF) land WHOLE in one of
      // train/val/test via a salted hash of the component root; singletons
      // are their own group
      val d = tbl(s, dir, "documents")
      val edges = d.select(col("doc_id").as("u"))
        .where(col("u") % 5 =!= 4)
        .join(d.select(col("doc_id").as("v")), col("v") === col("u") + 1)
      val comp = Dedup.connectedComponents(edges, "u", "v")
      val grouped = d.select(col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("grp"))
      graft.operators.Sampling.groupSplit(grouped, "doc_id", "grp", salt = "gsplit")
        .orderBy(col("doc_id"))
    }),
    "q_line_dedup" -> ((s, dir) => {
      // CCNet-style duplicated-segment scrub; the synthetic corpus has no
      // newlines, so the word " table " stands in as the segment delimiter
      Dedup.dedupLines(tbl(s, dir, "documents"), "doc_id", "text",
          minDocFreq = 3, delim = " table ")
        .orderBy(col("doc_id"))
    }),
    "q_decontaminate" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      Dedup.decontaminate(
          d.where(col("doc_id") % 53 =!= 0), d.where(col("doc_id") % 53 === 0),
          "doc_id", "text", n = 4)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),
    "q_decontaminate_bloom" -> ((s, dir) => {
      // bloom-prefiltered variant: false positives die in the exact-verify
      // semi-join, so the oracle is the SAME overlap rule as q_decontaminate
      val d = tbl(s, dir, "documents")
      Dedup.decontaminateBloom(
          d.where(col("doc_id") % 53 =!= 0), d.where(col("doc_id") % 53 === 0),
          "doc_id", "text", n = 4)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),
    "q_bm25" -> ((s, dir) => {
      graft.operators.Bm25.score(tbl(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "shuffle", "window"))
        .select(col("doc_id"), graft.functions.gf.roundHalfUp(col("bm25"), 4).as("bm25"))
        .orderBy(col("doc_id"))
    }),
    "q_simhash_pairs" -> ((s, dir) => {
      // SQL-replicable polynomial simhash -> DuckDB recomputes the identical
      // sketch and verifies pairs by exact hamming (recall guarantee:
      // chunks = maxHamming+1). maxHamming scaled to the 31-bit sketch
      // (radius 2/31 ~ radius 4/64); larger radii covered by the
      // brute-force unit test on the 64-bit sketch.
      // persistGroups=false (r22): the polynomial sketch recomputes cheaper
      // than the support-sized cache fills at this SF (A/B 1.26 vs 1.48 s);
      // the decode-backed media/audio/video sketches keep the default
      Dedup.simhashPairs(tbl(s, dir, "documents"), "doc_id", "text", maxHamming = 2,
          simhashFn = gf.simhashPoly31(_), bits = 31, persistGroups = false)
        .select(col("idA"), col("idB"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("idA"), col("idB"))
    }),
    "q_cosine_pairs" -> ((s, dir) => {
      Dedup.embeddingCosinePairs(tbl(s, dir, "embeddings"), "vec_id", "embedding",
          col("label"), threshold = 0.4)
        .select(col("idA"), col("idB"), graft.functions.gf.roundHalfUp(col("cosine"), 6).as("cosine"))
        .orderBy(col("idA"), col("idB"))
    }),
    "q_semdedup" -> ((s, dir) => {
      // SemDeDup with a pinned codebook (embeddings 0..7), so the oracle can
      // replay the nearest-centroid bucketing + within-cluster cosine rule;
      // production would pass DocSet.kmeans centers instead.
      val emb = tbl(s, dir, "embeddings")
      val centroids = emb.where(col("vec_id") < 8).orderBy("vec_id")
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0).toArray)
      Dedup.semDedup(emb, "vec_id", "embedding", centroids, threshold = 0.45)
        .select(col("vec_id"), col("label").cast("long").as("label"))
        .orderBy(col("vec_id"))
    }),
    "q_tfidf" -> ((s, dir) => {
      graft.operators.TfIdf.topTerms(tbl(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy(col("doc_id"), col("term"))
    }),
    "q_ctfidf" -> ((s, dir) =>
      // c-TF-IDF topic descriptors: top-10 characteristic terms per
      // language slice (see TfIdf.classTopTerms)
      graft.operators.TfIdf.classTopTerms(tbl(s, dir, "documents"), "lang", "text", 10)),
    "q_heavy_hitters" -> ((s, dir) => {
      // two-pass Misra-Gries sketch -> exact recount; output is EXACT, so
      // the oracle is the plain frequency threshold
      graft.operators.HeavyHitters.topTokens(tbl(s, dir, "documents"), "text", 0.01)
        .orderBy(col("token"))
    }),
    "q_range_join" -> ((s, dir) => {
      // banded time-proximity join (micros: the oracle can only see µs —
      // DuckDB truncates TIMESTAMP(NANOS))
      val ev = events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts_us").as("c_us"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts_us").as("p_us"))
      graft.operators.RangeJoin.band(clicks, purchases, "c_us", "p_us",
          width = 300000000.0, keys = Seq("user_id"))
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (col("p_us") - col("c_us")).as("delta_us"))
        .orderBy(col("click_id"), col("purchase_id"))
    }),
    "q_pack_sequences" -> ((s, dir) => {
      graft.operators.Packing.packSequences(tbl(s, dir, "documents"), "doc_id",
          gf.tokenCount(col("text")), contextLen = 512)
        .select(col("doc_id"), col("tok_start"), col("tok_end"),
          col("chunk_start"), col("chunk_end"), col("chunk_offset"))
        .orderBy(col("doc_id"))
    }),
    "q_rank_bins" -> ((s, dir) => {
      // exact decile curriculum bins over (n_chars, doc_id) — the two-phase
      // prefix-rank, never a single-partition global window
      graft.operators.Packing.rankBins(tbl(s, dir, "documents"),
          Seq(col("n_chars")), "doc_id", nBins = 10)
        .select(col("doc_id"), col("n_chars"), col("bin"))
        .orderBy(col("doc_id"))
    }),
    "q_mixture_pack_e2e" -> ((s, dir) => {
      // the mixture→packing COMPOSITION (r20): fractional-epoch upsampling
      // emits a 0-based `epoch` copy index precisely so downstream packing
      // can separate copies — this gate proves the chain end-to-end.
      // Copies are separated EPOCH-MAJOR ((epoch, doc_id) as one struct
      // order key, native composite ordering for both the range partition
      // and the in-partition window): copy 0 of the whole upsampled corpus
      // packs before any copy 1, the pretraining-loader layout where a
      // repeated document never lands twice in one context window until
      // the corpus has been seen once.
      val mixed = graft.operators.Sampling.epochMixture(
          tbl(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("n_chars"), col("text")),
          "doc_id", "lang", col("n_chars"),
          Map("en" -> 2000000L, "de" -> 120000L, "fr" -> 30000L), salt = "ep1")
        .withColumn("_ord", struct(col("epoch"), col("doc_id")))
      graft.operators.Packing.packSequences(mixed, "_ord",
          gf.tokenCount(col("text")), contextLen = 512)
        .select(col("doc_id"), col("epoch"), col("tok_start"), col("tok_end"),
          col("chunk_start"), col("chunk_end"), col("chunk_offset"))
        .orderBy(col("doc_id"), col("epoch"))
    }),
    "q_zorder" -> ((s, dir) => {
      // Morton layout key: exact-rank buckets (16 per dim) bit-interleaved
      // into one codegen'd expression — deterministic, so an external
      // engine can recompute it; zorderWrite range-partitions on this
      graft.operators.Layout.zvalue(tbl(s, dir, "documents"),
          Seq("source", "n_chars"), "doc_id", bits = 4)
        .select(col("doc_id"), col("zvalue"))
        .orderBy(col("doc_id"))
    }),

    // ---- DocSet facade routed through the gate (groupby_count contract:
    //      documents with properties {key,count}, reference groupby_count.py:86)
    "q_docset_groupby_count" -> ((s, dir) => {
      val docs = graft.sources.DocRead.fromDataFrame(
        tbl(s, dir, "documents"), Some("doc_id"), Some("text"))
      docs.groupbyCount("properties.lang")
        .toDF
        .select(element_at(col("properties"), "key").as("key"),
          element_at(col("properties"), "count").cast("long").as("count"))
        .orderBy(col("key"))
    }),
    "q_docset_topk" -> ((s, dir) => {
      val docs = graft.sources.DocRead.fromDataFrame(
        tbl(s, dir, "documents"), Some("doc_id"), Some("text"))
      docs.topK("properties.source", 3)
        .toDF
        .select(element_at(col("properties"), "key").as("key"),
          element_at(col("properties"), "count").cast("long").as("count"))
    }),

    // ---- LLM-ETL family (§2.8): deterministic fakes stand in for the model
    //      so the prompt->JSON->cast->validate plumbing is oracle-verified.
    "q_extract_properties" -> ((s, dir) => {
      import org.json4s._
      val schema = graft.llm.GSchema(Seq(
        graft.llm.GSchemaField("first_word", "string",
          validators = Seq(graft.llm.RegexValidator("[a-z]+"))),
        graft.llm.GSchemaField("word_count", "int",
          validators = Seq(graft.llm.BoundsValidator(1, 100000))),
        graft.llm.GSchemaField("mentions_spark", "bool")))
      val client = new graft.llm.FakeJsonExtractorClient(Map(
        "first_word" -> (t => JString(t.trim.split("\\s+").headOption.getOrElse(""))),
        "word_count" -> (t => JInt(t.trim.split("\\s+").count(_.nonEmpty))),
        "mentions_spark" -> (t => JBool(t.contains("spark")))))
      graft.sources.DocRead.fromDataFrame(tbl(s, dir, "documents"), Some("doc_id"), Some("text"))
        .extractProperties(new graft.llm.LlmPropertyExtractor(client, "entity", Some(schema)))
        .toDF
        .select(col("docId").cast("long").as("doc_id"),
          element_at(col("properties"), "entity.first_word").as("first_word"),
          element_at(col("properties"), "entity.word_count").cast("long").as("word_count"),
          element_at(col("properties"), "entity.mentions_spark").cast("boolean").as("mentions_spark"))
        .orderBy(col("doc_id"))
    }),
    "q_llm_map" -> ((s, dir) => {
      // llm_map e2e (reference: transforms/base_llm.py:76 LLMMap): prompt
      // template renders doc_id + a dotted property + the text, the echo
      // fake returns the first 64 chars of the rendered prompt, the result
      // lands in properties.gist via setField — all SQL-replayable.
      graft.sources.DocRead.fromDataFrame(
        tbl(s, dir, "documents").select("doc_id", "text", "lang"),
        Some("doc_id"), Some("text"))
        .llmMap(new FakeLlmClient("echo:64"),
          "doc {doc_id} [{properties.lang}] {text_representation}",
          "properties.gist")
        .toDF
        .select(col("docId").cast("long").as("doc_id"),
          element_at(col("properties"), "gist").as("gist"))
        .orderBy(col("doc_id"))
    }),
    "q_extract_entity" -> ((s, dir) => {
      // extract_entity e2e (reference: transforms/extract_entity.py:50): the
      // deterministic regex flavor finds the first 19xx/20xx year in the
      // text; docs without one keep the property absent (NULL downstream).
      graft.sources.DocRead.fromDataFrame(
        tbl(s, dir, "documents"), Some("doc_id"), Some("text"))
        .extractEntity(new graft.llm.RegexEntityExtractor("year", "((?:19|20)\\d\\d)"))
        .toDF
        .select(col("docId").cast("long").as("doc_id"),
          element_at(col("properties"), "year").as("year"))
        .orderBy(col("doc_id"))
    }),
    "q_llm_filter" -> ((s, dir) => {
      // llm_filter e2e (reference: transforms/llm_filter.py:113): prompt is
      // the doc_id, the echo:1 fake returns its first digit, the score parse
      // takes the digit prefix — keep docs whose doc_id starts with >= 3.
      graft.sources.DocRead.fromDataFrame(
        tbl(s, dir, "documents"), Some("doc_id"), Some("text"))
        .llmFilter(new FakeLlmClient("echo:1"), "{doc_id}", threshold = 3)
        .toDF
        .select(col("docId").cast("long").as("doc_id"))
        .orderBy(col("doc_id"))
    }),
    "q_graph_resolve" -> ((s, dir) => {
      // graph entity extraction + cross-doc resolution e2e (reference:
      // extract_graph_entities.py, resolve_graph_entities.py:149): each doc
      // becomes one section; the deterministic fake extracts each topic-word
      // occurrence as a Topic entity; in-section dedup + resolveEntities
      // counting = docs-containing-word, replayed via regexp_extract_all.
      import org.json4s._
      val docs = graft.sources.DocRead.fromDataFrame(
        tbl(s, dir, "documents"), Some("doc_id"), Some("text"))
        .map { d =>
          // element 0 is the section HEADER (sections() excludes it from the
          // summary); the body text must be a child element
          val sid = Map(graft.operators.DocStructure.SectionId -> "s1")
          d.copy(elements = Seq(
            graft.model.Element.text(0, "Section-header", "all", properties = sid),
            graft.model.Element.text(1, "Text", d.text, properties = sid)))
        }
      val client = new graft.llm.FakeJsonExtractorClient(Map(
        "Topic" -> (t => JArray(
          "\\b(spark|merge|join)\\b".r.findAllMatchIn(t).map(m =>
            JObject(List("w" -> JString(m.group(1))))).toList))))
      val ents = graft.llm.GraphExtraction.extractEntities(docs, client, Seq("Topic"))
      graft.llm.GraphExtraction.resolveEntities(ents)
        .select(col("entityJson").as("entity_json"),
          col("n_occurrences").cast("long").as("n_occurrences"))
        .orderBy(col("entity_json"))
    }),
    "q_cluster_entity" -> ((s, dir) => {
      // llm_cluster_entity e2e (reference: docset.py:1590): the fake's
      // group-propose call returns the configured groups; the assignment
      // call maps each doc's lang to the first group contained in it, else
      // "Other" — replayed as a CASE over contains().
      graft.sources.DocRead.fromDataFrame(
        tbl(s, dir, "documents").select("doc_id", "text", "lang"),
        Some("doc_id"), Some("text"))
        .llmClusterEntity(new graft.llm.FakeClusterLlmClient(Seq("en", "de")),
          "Group languages", "properties.lang")
        .toDF
        .select(col("docId").cast("long").as("doc_id"),
          element_at(col("properties"), "_autogen_ClusterAssignment").as("cluster"))
        .orderBy(col("doc_id"))
    }),
    "q_extract_schema" -> ((s, dir) => {
      // extract_schema e2e (reference: extract_schema.py:105): the fake
      // proposes a one-field schema named after the doc's first word; the
      // stored _schema JSON and constant _schema_class replay in SQL.
      val client = new graft.llm.LlmClient {
        def generate(p: String): String = {
          val s0 = p.indexOf(graft.llm.SchemaExtraction.DocStart)
          val e0 = p.lastIndexOf(graft.llm.SchemaExtraction.DocEnd)
          val t = if (s0 < 0 || e0 <= s0) ""
                  else p.substring(s0 + graft.llm.SchemaExtraction.DocStart.length, e0)
          val w = t.trim.split("\\s+").headOption.filter(_.nonEmpty).getOrElse("none")
          s"""{"$w": {"type": "string"}}"""
        }
      }
      graft.sources.DocRead.fromDataFrame(
        tbl(s, dir, "documents"), Some("doc_id"), Some("text"))
        .extractSchema(new graft.llm.LlmSchemaExtractor(client, "Doc"))
        .toDF
        .select(col("docId").cast("long").as("doc_id"),
          element_at(col("properties"), "_schema").as("schema_json"),
          element_at(col("properties"), "_schema_class").as("schema_class"))
        .orderBy(col("doc_id"))
    }),
    "q_llm_query" -> ((s, dir) => {
      // llm_query e2e (reference: transforms/llm_query.py): fixed prompt +
      // doc text, echo fake returns the first 48 chars of the combined
      // prompt — substr-replayable.
      graft.sources.DocRead.fromDataFrame(
        tbl(s, dir, "documents"), Some("doc_id"), Some("text"))
        .llmQuery(new FakeLlmClient("echo:48"), "Q:")
        .toDF
        .select(col("docId").cast("long").as("doc_id"),
          element_at(col("properties"), "llm_response").as("llm_response"))
        .orderBy(col("doc_id"))
    }),
    "q_llm_map_elements" -> ((s, dir) => {
      // llm_map_elements e2e (reference: base_llm.py LLMMapElements): chunk
      // each doc into 50-codepoint elements, render "{type}:{text}" per
      // element, echo:24 fake — each element's new property replays as a
      // generate_series + substr oracle.
      graft.sources.DocRead.fromDataFrame(
        tbl(s, dir, "documents"), Some("doc_id"), Some("text"))
        .map { d =>
          val cps = d.text.codePoints.toArray
          val els = cps.grouped(50).zipWithIndex.map { case (a, i) =>
            graft.model.Element.text(i, "chunk", new String(a, 0, a.length))
          }.toSeq
          d.copy(elements = els)
        }
        .llmMapElements(new FakeLlmClient("echo:24"),
          "{type}:{text_representation}", "cap")
        .toDF
        .select(col("docId").cast("long").as("doc_id"),
          explode(col("elements")).as("e"))
        .select(col("doc_id"),
          col("e.elementIndex").cast("long").as("element_index"),
          element_at(col("e.properties"), "cap").as("cap"))
        .orderBy(col("doc_id"), col("element_index"))
    }),
    "q_bradley_terry" -> ((s, dir) => {
      // pairwise-preference Bradley-Terry scoring (engine addition — RLHF
      // preference-data curation; no reference counterpart): deterministic
      // comparison pairs — doc i vs doc (7i+3) mod N, winner = more chars
      // (tie: smaller id) — scored by 3 integer-micros MM iterations; every
      // division floors positive longs, so the DuckDB // replay is exact.
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val n = docs.count()
      val right = docs.select(col("doc_id").as("b_id"), col("n_chars").as("b_nc"))
      val aWins = col("n_chars") > col("b_nc") ||
        (col("n_chars") === col("b_nc") && col("doc_id") < col("b_id"))
      val pairs = docs.join(right, ((col("doc_id") * 7 + 3) % n) === col("b_id"))
        .where(col("doc_id") =!= col("b_id"))
        .select(when(aWins, col("doc_id")).otherwise(col("b_id")).as("winner"),
          when(aWins, col("b_id")).otherwise(col("doc_id")).as("loser"))
      graft.operators.Preference.bradleyTerry(pairs, "winner", "loser", iters = 3)
        .select(col("id").cast("long").as("doc_id"), col("n_wins"),
          col("n_pairs"), col("score_micros"))
        .orderBy(col("doc_id"))
    }),
    "q_summarize_onestep" -> ((s, dir) => {
      // one-step summarizer + echo fake: summary = first 80 chars of the
      // synthesis prompt, exactly replicable in SQL.
      graft.sources.DocRead.fromDataFrame(tbl(s, dir, "documents"), Some("doc_id"), Some("text"))
        .summarizeWith(new graft.operators.OneStepDocumentSummarizer(
          new FakeLlmClient("echo:80"), tokenLimit = 10000))
        .toDF
        .select(col("docId").cast("long").as("doc_id"),
          element_at(col("properties"), "summary").as("summary"))
        .orderBy(col("doc_id"))
    }),

    // ---- SycamoreQuery logical-plan layer (SURVEY §3.2): each q_plan_*
    //      deserializes a JSON plan DAG, executes it through QueryExecutor,
    //      and hash-matches the same oracle as a direct-DataFrame twin
    //      (mirrors reference tests/unit/query/test_plan.py +
    //      execution/test_sycamore_operator.py).
    "q_plan_topk" -> ((s, dir) => {
      val plan = """{"query":"top 3 sources among english documents","result_node":1,
        "nodes":{
          "0": {"node_type":"QueryDatabase","node_id":0,"inputs":[],
                "index":"documents","query":{"match":{"lang":"en"}}},
          "1": {"node_type":"TopK","node_id":1,"inputs":[0],
                "field":"properties.source","K":3,"descending":true,
                "llm_cluster":false}}}"""
      keyCountDf(runPlan(s, dir, plan))
    }),
    "q_plan_groupby" -> ((s, dir) => {
      val plan = """{"query":"documents per language","result_node":3,
        "nodes":{
          "0": {"node_type":"QueryDatabase","node_id":0,"inputs":[],"index":"documents"},
          "1": {"node_type":"GroupBy","node_id":1,"inputs":[0],"field":"properties.lang"},
          "2": {"node_type":"AggregateCount","node_id":2,"inputs":[1]},
          "3": {"node_type":"Sort","node_id":3,"inputs":[2],
                "field":"properties.key","descending":false}}}"""
      keyCountDf(runPlan(s, dir, plan))
    }),
    "q_plan_filter_count" -> ((s, dir) => {
      val plan = """{"query":"how many customers had mid-size orders","result_node":2,
        "nodes":{
          "0": {"node_type":"QueryDatabase","node_id":0,"inputs":[],"index":"orders"},
          "1": {"node_type":"BasicFilter","node_id":1,"inputs":[0],
                "field":"properties.o_totalprice","range_filter":true,
                "start":50000,"end":150000},
          "2": {"node_type":"Count","node_id":2,"inputs":[1],
                "distinct_field":"properties.o_custkey"}}}"""
      scalarDf(s, runPlan(s, dir, plan), "value").select(col("value").cast("long").as("value"))
    }),
    "q_plan_filter_date" -> ((s, dir) => {
      // the is_date range path: string property -> timestamp coercion.
      val plan = """{"query":"1996 orders","result_node":2,
        "nodes":{
          "0": {"node_type":"QueryDatabase","node_id":0,"inputs":[],"index":"orders"},
          "1": {"node_type":"BasicFilter","node_id":1,"inputs":[0],
                "field":"properties.o_orderdate","range_filter":true,
                "start":"1996-01-01","end":"1996-12-31 23:59:59","is_date":true},
          "2": {"node_type":"Count","node_id":2,"inputs":[1]}}}"""
      scalarDf(s, runPlan(s, dir, plan), "value").select(col("value").cast("long").as("value"))
    }),
    "q_plan_math" -> ((s, dir) => {
      val plan = """{"query":"average lineitems per order","result_node":3,
        "nodes":{
          "0": {"node_type":"QueryDatabase","node_id":0,"inputs":[],"index":"lineitem"},
          "1": {"node_type":"Count","node_id":1,"inputs":[0]},
          "2": {"node_type":"QueryDatabase","node_id":2,"inputs":[],"index":"orders"},
          "3": {"node_type":"Math","node_id":3,"inputs":[1,4],"operation":"divide"},
          "4": {"node_type":"Count","node_id":4,"inputs":[2]}}}"""
      scalarDf(s, runPlan(s, dir, plan), "value")
    }),
    "q_plan_fieldin" -> ((s, dir) => {
      val plan = """{"query":"customers in region 2","result_node":2,
        "nodes":{
          "0": {"node_type":"QueryDatabase","node_id":0,"inputs":[],"index":"customer"},
          "1": {"node_type":"QueryDatabase","node_id":1,"inputs":[],
                "index":"nation","query":{"term":{"n_regionkey":2}}},
          "2": {"node_type":"FieldIn","node_id":2,"inputs":[0,1],
                "field_one":"properties.c_nationkey",
                "field_two":"properties.n_nationkey"}}}"""
      runPlan(s, dir, plan) match {
        case QDocs(ds) => ds.toDF
          .select(element_at(col("properties"), "c_custkey").cast("long").as("c_custkey"),
            element_at(col("properties"), "c_name").as("c_name"))
          .orderBy(col("c_custkey"))
        case other => throw new IllegalStateException(s"$other")
      }
    }),
    "q_plan_summarize" -> ((s, dir) => {
      // deterministic fake echoes the synthesis prompt prefix -> SQL oracle.
      val plan = """{"query":"how many orders are there","result_node":2,
        "nodes":{
          "0": {"node_type":"QueryDatabase","node_id":0,"inputs":[],"index":"orders"},
          "1": {"node_type":"Count","node_id":1,"inputs":[0]},
          "2": {"node_type":"SummarizeData","node_id":2,"inputs":[1],
                "question":"how many orders are there"}}}"""
      scalarDf(s, runPlan(s, dir, plan), "answer")
    }),

    // ---- NL->plan end-to-end (reference: query/planner.py:97 LlmPlanner +
    //      tests/unit/query/test_planner.py + execution/test_sycamore_executor.py):
    //      question -> fake planner LLM (canned JSON wrapped in prose) ->
    //      LlmPlanner.plan (prompt build, JSON extraction, parse, processors)
    //      -> QueryExecutor -> DataFrame, hash-matched against the same
    //      oracle as the direct twins.
    "q_nlq_topk" -> ((s, dir) => {
      val canned = """Here is the plan.
        {"query": "top 3 sources among english documents", "result_node": 1,
         "nodes": {
           "0": {"node_type":"QueryDatabase","node_id":0,"inputs":[],
                 "index":"documents","query":{"match":{"lang":"en"}}},
           "1": {"node_type":"TopK","node_id":1,"inputs":[0],
                 "field":"properties.source","K":3,"descending":true,
                 "llm_cluster":false}}}"""
      val planner = new graft.plan.LlmPlanner(
        new graft.llm.CannedLlmClient(canned),
        schema = Map("documents" -> Seq("doc_id", "text", "lang", "source")),
        processors = Seq(graft.plan.DefaultPlanValidator,
          graft.plan.LimitLlmOperations(100)))
      val plan = planner.plan("top 3 sources among english documents")
      val exec = new QueryExecutor(s, new FakeLlmClient("echo:64"),
        name => tbl(s, dir, name))
      keyCountDf(exec.execute(plan))
    }),
    "q_nlq_bool" -> ((s, dir) => {
      // bool-filter QueryDatabase through the FULL planner flow (reference
      // planner_prompt.py:175 "incidents between ... matching ..." example
      // shape: bool must range + must_not term, engine-compatible should).
      // The should clause is scoring-only alongside must — it must NOT
      // change membership (the Lucene bool contract, ADVICE r16 #2).
      val canned = """Sure, here is the query plan JSON:
        {"query": "top order statuses for mid-priced orders", "result_node": 1,
         "nodes": {
           "0": {"node_type":"QueryDatabase","node_id":0,"inputs":[],
                 "index":"orders","query":{"bool":{
                   "must":[{"range":{"o_totalprice":{"gte":50000,"lte":150000}}}],
                   "must_not":[{"term":{"o_orderstatus":"P"}}],
                   "should":[{"term":{"o_orderkey":1}}]}}},
           "1": {"node_type":"TopK","node_id":1,"inputs":[0],
                 "field":"properties.o_orderstatus","K":2,"descending":true,
                 "llm_cluster":false}}}"""
      val planner = new graft.plan.LlmPlanner(
        new graft.llm.CannedLlmClient(canned),
        schema = Map("orders" -> Seq("o_orderkey", "o_orderstatus", "o_totalprice")),
        processors = Seq(graft.plan.DefaultPlanValidator,
          graft.plan.LimitLlmOperations(100)))
      val plan = planner.plan("top order statuses for mid-priced orders")
      val exec = new QueryExecutor(s, new FakeLlmClient("echo:64"),
        name => tbl(s, dir, name))
      keyCountDf(exec.execute(plan))
    }),
    "q_nlq_vector" -> ((s, dir) => {
      // QueryVectorDatabase through the planner flow (reference
      // planner_prompt.py QueryVectorDatabase examples): the phrase is ONE
      // token, so the HashEmbedder query vector is an exact one-hot ±1 —
      // the oracle replays it as a literal list with no float-accumulation
      // hazard (cosine math then mirrors the q_ann_bruteforce pattern).
      val canned = """{"query": "vectors most similar to spark", "result_node": 0,
         "nodes": {
           "0": {"node_type":"QueryVectorDatabase","node_id":0,"inputs":[],
                 "index":"embeddings","query_phrase":"spark","K":8}}}"""
      val planner = new graft.plan.LlmPlanner(
        new graft.llm.CannedLlmClient(canned),
        schema = Map("embeddings" -> Seq("vec_id", "embedding", "label")),
        processors = Seq(graft.plan.DefaultPlanValidator))
      val plan = planner.plan("vectors most similar to spark")
      val exec = new QueryExecutor(s, new FakeLlmClient("echo:64"),
        name => tbl(s, dir, name))
      exec.execute(plan) match {
        case QDocs(ds) => ds.toDF
          .select(element_at(col("properties"), "vec_id").cast("long").as("vec_id"))
          .orderBy(col("vec_id"))
        case other => throw new IllegalStateException(s"$other")
      }
    }),
    "q_nlq_count_distinct" -> ((s, dir) => {
      // match_phrase QueryDatabase + distinct Count through the planner
      // flow (reference planner_prompt.py:196 "How many cities did Cessna
      // aircrafts have incidents in?" shape).
      val canned = """{"query": "how many sources mention spark", "result_node": 1,
         "nodes": {
           "0": {"node_type":"QueryDatabase","node_id":0,"inputs":[],
                 "index":"documents","query":{"match_phrase":{"text":"spark"}}},
           "1": {"node_type":"Count","node_id":1,"inputs":[0],
                 "distinct_field":"properties.source"}}}"""
      val planner = new graft.plan.LlmPlanner(
        new graft.llm.CannedLlmClient(canned),
        schema = Map("documents" -> Seq("doc_id", "text", "lang", "source")),
        processors = Seq(graft.plan.DefaultPlanValidator,
          graft.plan.LimitLlmOperations(100)))
      val plan = planner.plan("how many sources mention spark")
      val exec = new QueryExecutor(s, new FakeLlmClient("echo:64"),
        name => tbl(s, dir, name))
      scalarDf(s, exec.execute(plan), "value")
    }),
    "q_nlq_summarize" -> ((s, dir) => {
      // AlwaysSummarize must append the answer-synthesis node carrying the
      // ORIGINAL question (not the canned plan's query field).
      val canned = """{"query": "ignored", "result_node": 1,
         "nodes": {
           "0": {"node_type":"QueryDatabase","node_id":0,"inputs":[],"index":"orders"},
           "1": {"node_type":"Count","node_id":1,"inputs":[0]}}}"""
      val planner = new graft.plan.LlmPlanner(
        new graft.llm.CannedLlmClient(canned),
        schema = Map("orders" -> Seq("o_orderkey", "o_custkey", "o_totalprice")),
        processors = Seq(graft.plan.DefaultPlanValidator, graft.plan.AlwaysSummarize))
      val plan = planner.plan("how many orders are there")
      val exec = new QueryExecutor(s, new FakeLlmClient("echo:64"),
        name => tbl(s, dir, name))
      scalarDf(s, exec.execute(plan), "answer")
    }),
    "q_nlq_retry" -> ((s, dir) => {
      // the LLM-misbehaving path (r18 brief #4): the model returns
      // truncated JSON, then an unknown node_type, and only cooperates on
      // the THIRD call — LlmPlanner's retry/repair loop must recover and
      // the recovered plan execute to the same answer as the direct SQL
      // (reference: llms/chained_llm.py try-next chain; planner.py:105).
      val truncated = """{"query": "how many building customers", "result_no"""
      val unknownNode = """{"query": "how many building customers", "result_node": 1,
         "nodes": {
           "0": {"node_type":"FrobnicateDocs","node_id":0,"inputs":[],
                 "index":"customer"},
           "1": {"node_type":"Count","node_id":1,"inputs":[0]}}}"""
      val good = """Apologies — corrected plan:
        {"query": "how many building customers", "result_node": 1,
         "nodes": {
           "0": {"node_type":"QueryDatabase","node_id":0,"inputs":[],
                 "index":"customer","query":{"term":{"c_mktsegment":"BUILDING"}}},
           "1": {"node_type":"Count","node_id":1,"inputs":[0]}}}"""
      val flaky = new graft.llm.FlakyLlmClient(Seq(truncated, unknownNode), good)
      val planner = new graft.plan.LlmPlanner(
        flaky,
        schema = Map("customer" -> Seq("c_custkey", "c_name", "c_mktsegment")),
        processors = Seq(graft.plan.DefaultPlanValidator,
          graft.plan.LimitLlmOperations(100)))
      val plan = planner.plan("how many building customers", maxAttempts = 3)
      require(flaky.calls == 3,
        s"retry loop must consume both bad responses, called ${flaky.calls}x")
      val exec = new QueryExecutor(s, new FakeLlmClient("echo:64"),
        name => tbl(s, dir, name))
      scalarDf(s, exec.execute(plan), "value")
    }),
    "q_nlq_kmeans" -> ((s, dir) => {
      // KMeanClustering over a NAMED field (reference
      // sycamore_operator.py:746: `field` is embedded for clustering)
      // with K = the field's distinct-value count: every distinct value
      // embeds to one deterministic HashEmbedder point, kmeans converges
      // to one centroid per point (cost 0), and the sorted cluster SIZES
      // equal the sorted GROUP BY counts — an exact oracle that never
      // depends on which arbitrary id each cluster gets.
      val k = tbl(s, dir, "documents").select("lang").distinct().count().toInt
      val plan = s"""{"query": "cluster documents by language", "result_node": 1,
         "nodes": {
           "0": {"node_type":"QueryDatabase","node_id":0,"inputs":[],
                 "index":"documents"},
           "1": {"node_type":"KMeanClustering","node_id":1,"inputs":[0],
                 "field":"properties.lang","new_field":"grp","K":$k}}}"""
      val exec = new QueryExecutor(s, new FakeLlmClient("echo:64"),
        name => tbl(s, dir, name))
      exec.execute(QPlan.fromJson(plan)) match {
        case QDocs(ds) => ds.toDF
          .groupBy(element_at(col("properties"), "grp"))
          .agg(count(lit(1)).as("n")).select("n").orderBy("n")
        case other => throw new IllegalStateException(s"$other")
      }
    }),

    "q_clustering" -> ((s, dir) => {
      // nearest-centroid assignment (NearestCentroidExpr) with a
      // deterministic codebook -> exact SQL oracle via list_distance argmin.
      val emb = tbl(s, dir, "embeddings")
      val centroids = emb.where(col("vec_id") < 4).orderBy("vec_id")
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0).toArray)
      emb.withColumn("cluster", Ann.nearestCentroid(col("embedding"), centroids))
        .groupBy(col("cluster").cast("long").as("cluster"))
        .agg(count(lit(1)).as("n"))
        .orderBy("cluster")
    }),
    "q_rerank" -> ((s, dir) => {
      // rerank with the deterministic token-overlap scorer -> SQL oracle.
      val query = "spark join fast"
      val scorer = (q: String, t: String) =>
        q.split(" ").count(w => t.contains(w)).toDouble
      graft.sources.DocRead.fromDataFrame(tbl(s, dir, "documents"), Some("doc_id"), Some("text"))
        .rerank(scorer, query)
        .toDF
        .select(col("docId").cast("long").as("doc_id"),
          element_at(col("properties"), "_rerank_score").cast("double").as("score"))
        .orderBy(desc("score"), col("doc_id"))
    }),

    // ---- similarity search (training-data ops)
    "q_ann_bruteforce" -> ((s, dir) => {
      val q = tbl(s, dir, "embeddings").where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      Ann.bruteForceTopK(tbl(s, dir, "embeddings"), "vec_id", "embedding", q, 10)
        .select(col("vec_id"), graft.functions.gf.roundHalfUp(col("cosine"), 6).as("cosine"))
        .orderBy(desc("cosine"), col("vec_id"))
    }),
    "q_ann_pq" -> ((s, dir) => {
      // Product-quantization ADC search, oracle-verified via a pinned
      // codebook (subspace s's 16 centroids = the first 16 vectors'
      // subvectors; production trains with Ann.pqTrain / MLlib KMeans).
      // All distance math is index-ordered squared L2 on both engines, and
      // the oracle sums subspace distances through an ORDER BY s list so
      // float addition order matches the Scala fold exactly.
      val emb = tbl(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val first16 = emb.where(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0).toArray)
      val m = 8; val subDim = 8
      val codebooks = Array.tabulate(m)(sp =>
        first16.map(v => v.slice(sp * subDim, (sp + 1) * subDim)))
      val coded = emb.withColumn("codes", Ann.pqEncode(col("embedding"), codebooks))
      Ann.pqAdcTopK(coded, "vec_id", "codes", codebooks, q, 10)
        .select(col("vec_id"), graft.functions.gf.roundHalfUp(col("adc_dist"), 6).as("adc_dist"))
    }),
    "q_ann_ivf" -> ((s, dir) => {
      // Oracle-verified IVF: the codebook is PINNED to the first 16 vectors
      // (production uses Ann.sampleCentroids / kmeans — the gate pins it so
      // DuckDB can replay assignment, probe ranking, and in-list top-k).
      // NearestCentroidExpr keeps one plan node at any nlist; its strict-<
      // argmin tie-breaks to the lowest cid, same as the oracle's struct min.
      val emb = tbl(s, dir, "embeddings")
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val centroids = emb.where(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0).toArray)
      Ann.ivfTopK(emb, "vec_id", "embedding", centroids, q, 10, nprobe = 4)
        .select(col("vec_id"), graft.functions.gf.roundHalfUp(col("cosine"), 6).as("cosine"))
    }),
    "q_sql_surface" -> ((s, dir) => {
      // The SparkSessionExtensions path: the SAME codegen'd expressions the
      // Column API uses, reached purely through SQL text after
      // GraftSqlFunctions registration (GraftExtensions.scala). Proves the
      // function library is a first-class SQL surface, not just a Scala DSL.
      GraftSqlFunctions.register(s)
      tbl(s, dir, "documents").createOrReplaceTempView("gf_sql_docs")
      s.sql(
        """SELECT doc_id,
          |       CAST(gf_token_count(text) AS BIGINT) AS n_ws,
          |       gf_poly_fingerprint(text) AS fp,
          |       gf_langid(text) AS lang_detected,
          |       gf_round_half_up(gf_alpha_ratio(text), 6) AS alpha_ratio
          |FROM gf_sql_docs
          |ORDER BY doc_id""".stripMargin)
    }),
    "q_unigram_logprob" -> ((s, dir) =>
      // self-trained unigram LM perplexity proxy (integer bits-of-surprise —
      // see UnigramLm for why a real log cannot cross-engine hash-match)
      graft.operators.UnigramLm.score(tbl(s, dir, "documents"), "doc_id", "text")),
    "q_bigram_logprob" -> ((s, dir) =>
      // order-2 fluency scoring: conditional bits-of-surprise per adjacent
      // token pair — separates word salad from fluent text, which unigram
      // statistics cannot (a permutation has identical unigram stats)
      graft.operators.BigramLm.score(tbl(s, dir, "documents"), "doc_id", "text")),
    "q_trigram_backoff" -> ((s, dir) =>
      // order-3 stupid-backoff LM (Brants et al. 2007): counts trained on
      // the even-doc_id half, every doc scored with trigram→bigram→unigram
      // →OOV backoff in integer bits (+2 bits per backed-off level)
      graft.operators.TrigramLm.scoreBackoff(tbl(s, dir, "documents"),
        "doc_id", "text", col("doc_id") % 2 === 0)),
    "q_fuzzy_join" -> ((s, dir) => {
      // record-linkage fuzzy join at Jaccard >= 1/2 (exact rational) over
      // word-BIGRAM shingles of the 12-token title prefix — the q-gram
      // set formulation. The symbol choice is load-bearing at scale: the
      // synthetic corpus has a 31-word vocabulary, so raw-token sets make
      // nearly EVERY cross pair a candidate (measured 40s at sf0.1);
      // shingling lifts the universe to ~900 symbols and restores the
      // selectivity the rare-first prefix filter feeds on (0.5s, same
      // exact-verify semantics)
      val titled = tbl(s, dir, "documents")
        .where(size(filter(gf.tokens(col("text")), x => length(x) > 0)) >= 2)
        .select(col("doc_id"),
          gf.wordShingles(
            array_join(slice(filter(gf.tokens(col("text")),
              x => length(x) > 0), 1, 12), " "), 2).as("title_set"))
      graft.operators.FuzzyJoin.jaccardJoin(
        titled.where(col("doc_id") % 2 === 0),
        titled.where(col("doc_id") % 2 === 1),
        "doc_id", "title_set", num = 1, den = 2)
    }),
    "q_jaro_winkler" -> ((s, dir) =>
      // Jaro-Winkler per-row scoring (DuckDB-bit-identical expression; the
      // join use composes with EditJoin/sorted-blocking candidates)
      tbl(s, dir, "documents").select(col("doc_id"),
        graft.functions.gf.roundHalfUp(gf.jaroWinkler(substring(lower(col("text")), 1, 24),
          substring(lower(col("text")), 5, 24)), 6).as("jw"))
        .orderBy(col("doc_id"))),
    "q_edit_join" -> ((s, dir) => {
      // record-linkage by CHARACTER edit distance (PassJoin segment
      // pruning + exact levenshtein verify) over the 24-char lowercased
      // title prefix — the char-level twin of q_fuzzy_join's set Jaccard
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), substring(lower(col("text")), 1, 24).as("p"))
      graft.operators.EditJoin.join(
        d.where(col("doc_id") % 2 === 0), d.where(col("doc_id") % 2 === 1),
        "doc_id", "p", k = 2)
    }),
    "q_sorted_blocking" -> ((s, dir) =>
      // sorted-neighborhood ER candidates: 20-char lowercased text prefix
      // as the blocking key, window 2 — O(n*w) pairs however skewed the
      // keys; the global rank is the two-phase prefix sum, not a window
      graft.operators.Blocking.sortedNeighborhood(
        tbl(s, dir, "documents"), "doc_id",
        lower(substring(col("text"), 1, 20)), window = 2)),
    "q_moments" -> ((s, dir) =>
      // shape-of-distribution stats from EXACT decimal(38,0) power sums;
      // the only floats are one fixed IEEE chain per group
      graft.operators.Stats.moments(tbl(s, dir, "lineitem"),
        col("l_returnflag"), cents(col("l_extendedprice")))),
    "q_robust_outliers" -> ((s, dir) =>
      // median/MAD outlier summary per return flag — the robust twin of
      // the 3-sigma moment flags; med2/mad4 integer encodings, flag by
      // pure integer cross-multiplication (see Stats.robustOutliers)
      graft.operators.Stats.robustOutliers(tbl(s, dir, "lineitem"),
        col("l_returnflag"), cents(col("l_extendedprice")),
        col("l_orderkey") * 10 + col("l_linenumber"))),
    "q_event_anomaly" -> ((s, dir) =>
      // 3-sigma hourly volume spikes per event type, decided in pure
      // integers (cross-multiplied z-test; see anomalousBuckets)
      graft.operators.EventAnalytics.anomalousBuckets(
        events(s, dir), "event_type", "ts", stepNs = 3600L * 1000000000L)),
    "q_markov_transitions" -> ((s, dir) =>
      // per-user next-event transition matrix with exact counts
      graft.operators.EventAnalytics.markovTransitions(
        events(s, dir), "user_id", "event_type", "ts", "event_id")),
    "q_url_domains" -> ((s, dir) => {
      // URL host + eTLD+1 extraction — the keying unit of crawl domain
      // filters/caps. URLs synthesized deterministically from doc_id (the
      // synthetic corpus has no URL column); both engines build identical
      // strings, so the gate verifies the PARSERS.
      val id = col("doc_id")
      val url = when(id % 4 === 0,
          concat(lit("https://www.shop"), id % 50, lit(".co.uk/item/"), id))
        .when(id % 4 === 1,
          concat(lit("http://user:pw@News"), id % 30, lit(".Example.com:8080/p?q=1")))
        .when(id % 4 === 2,
          concat(lit("https://static.cdn"), id % 20, lit(".io/x#frag")))
        .otherwise(concat(lit("not a url "), id))
      tbl(s, dir, "documents")
        .select(id, url.as("url"))
        .select(id, col("url"), gf.urlHost(col("url")).as("host"))
        .select(id, col("url"), col("host"),
          gf.registeredDomain(col("host")).as("domain"))
        .orderBy(id)
    }),
    "q_domain_reputation" -> ((s, dir) => {
      // domain-as-unit-of-trust prior (RefinedWeb/CCNet): per-eTLD+1 doc
      // count + exact integer milli-mean token count, joined back as a
      // keep prior. URLs synthesized from doc_id (q_url_domains pattern).
      val id = col("doc_id")
      val url = when(id % 4 === 0,
          concat(lit("https://www.shop"), id % 50, lit(".co.uk/item/"), id))
        .when(id % 4 === 1,
          concat(lit("http://user:pw@News"), id % 30, lit(".Example.com:8080/p?q=1")))
        .when(id % 4 === 2,
          concat(lit("https://static.cdn"), id % 20, lit(".io/x#frag")))
        .otherwise(concat(lit("not a url "), id))
      val d = tbl(s, dir, "documents")
        .select(id, col("text"),
          gf.registeredDomain(gf.urlHost(url)).as("dom"))
      graft.operators.DomainOps.reputation(
        d, "doc_id", col("dom"), gf.tokenCount(col("text")),
        minAvgMilli = 54000L)
    }),
    "q_strip_templates" -> ((s, dir) => {
      // per-domain boilerplate removal: manufactured header/footer banners
      // (the synthetic corpus has no site furniture) around the real text;
      // docs with doc_id%5==0 lack the footer, so the gate also proves
      // partial-presence handling and line-order preservation
      val id = col("doc_id")
      val dom = concat(lit("d"), id % 7)
      val t = concat(lit("banner of "), dom, lit("\n"), col("text"),
        when(id % 5 === 0, lit("")).otherwise(concat(lit("\ncontact "), dom)))
      val d = tbl(s, dir, "documents").select(id, dom.as("dom"), t.as("t"))
      graft.operators.DomainOps.stripTemplateLines(
        d, "doc_id", "t", col("dom"), minDocs = 3L)
    }),
    "q_robots" -> ((s, dir) => {
      // robots.txt politeness filter for the crawl stack: the fixture's
      // graftbot group exercises longest-match, Allow-over-Disallow,
      // and the unmatched-:-allowed default (see operators/Robots)
      val rules = graft.operators.Robots.parse(RobotsFixture, "graftbot")
      val id = col("doc_id")
      val path = robotsPathCol(id)
      tbl(s, dir, "documents")
        .select(id, path.as("path"),
          graft.operators.Robots.allowedCol(path, rules).as("allowed"))
        .orderBy(id)
    }),
    "q_url_canonical" -> ((s, dir) => {
      // canonicalization = the URL-dedup KEY: case, default ports, www,
      // tracking params, param order, fragments and trailing slashes all
      // collapse (see gf.canonicalizeUrl). Deterministic synthetic URLs
      // exercise every rule; the gate verifies the NORMALIZER.
      val id = col("doc_id")
      val url = when(id % 4 === 0,
          concat(lit("HTTPS://WWW.Shop"), id % 50,
            lit(".COM:443/items/"), id, lit("/?utm_source=mail&b=2&a=1#top")))
        .when(id % 4 === 1,
          concat(lit("http://News"), id % 30,
            lit(".example.com:8080/p/?z=9&fbclid=x&y=2")))
        .when(id % 4 === 2,
          concat(lit("https://cdn"), id % 20, lit(".io:80/")))
        .otherwise(concat(lit("plain text "), id))
      tbl(s, dir, "documents")
        .select(id, url.as("url"))
        .select(id, col("url"), gf.canonicalizeUrl(col("url")).as("canon"))
        .orderBy(id)
    }),
    "q_ccnet_buckets" -> ((s, dir) =>
      // CCNet §4.3 head/middle/tail: per-language perplexity tertiles via
      // the integer-bits LM proxy + stratified two-phase rank
      graft.operators.CcnetBuckets.buckets(
        tbl(s, dir, "documents"), "doc_id", "text", "lang")
        .orderBy(col("doc_id"))),
    "q_dedup_key" -> ((s, dir) =>
      // CCNet dedup-key normalization (one codegen'd pass); unicode
      // accent-strip behavior is pinned by unit tests — this corpus is
      // ASCII so the DuckDB replay is byte-exact
      tbl(s, dir, "documents")
        .select(col("doc_id"), gf.dedupKey(col("text")).as("dkey"))
        .orderBy(col("doc_id"))),
    "q_checks" -> ((s, dir) => {
      // Deequ-style contract suite over orders: row-level + uniqueness
      // fold into ONE aggregate/one scan; the FK check adds an anti-join
      // count. range_cents is deliberately tight so the gate proves
      // violation COUNTING, not just pass flags
      import graft.operators.Checks
      import graft.operators.Checks._
      val o = tbl(s, dir, "orders")
      Checks.run(o, Seq(
        RowCheck("not_null_custkey", notNull(col("o_custkey"))),
        RowCheck("range_cents", inRange(cents(col("o_totalprice")),
          lit(0L), lit(30000000L))),
        RowCheck("priority_format", matches(col("o_orderpriority"), "^[1-5]-")),
        RowCheck("status_domain", inSet(col("o_orderstatus"), Seq("F", "O", "P"))),
        UniqueCheck("unique_orderkey", Seq(col("o_orderkey"))),
        RefCheck("fk_customer", col("o_custkey"), tbl(s, dir, "customer"), "c_custkey")))
    }),
    "q_profile" -> ((s, dir) => {
      // one-scan column profile over documents: exact distinct counts via
      // a single Expand, ranges profiled on exact representations (longs,
      // strings - never engine-formatted floats); nulls manufactured
      val d = tbl(s, dir, "documents")
      graft.operators.Profiler.profile(d, Seq(
        "lang" -> col("lang"),
        "source" -> col("source"),
        "n_chars" -> col("n_chars"),
        "lang_opt" -> when(col("doc_id") % 10 === 0, lit(null))
          .otherwise(col("lang"))))
    }),
    "q_corpus_stats" -> ((s, dir) =>
      // dataset-card summary: one aggregation pass, integer sums + exact
      // ratios only (no float accumulation crosses a shuffle)
      graft.operators.CorpusStats.bySource(tbl(s, dir, "documents"),
        "text", Seq("source", "lang"))),
    "q_lexical_diversity" -> ((s, dir) =>
      // per-doc type-token ratio / hapax fraction / mean word length —
      // the Gopher-family lexical quality signals; two keyed aggregates,
      // never a window
      graft.operators.CorpusStats.lexicalDiversity(
        tbl(s, dir, "documents"), "doc_id", "text")),
    "q_chunk_text" -> ((s, dir) =>
      // sliding 64-token windows with 16-token overlap: (doc, chunk_idx,
      // n_tokens) training rows — the flat RAG/context-prep shape
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(gf.chunkTokens(col("text"), 64, 16)).as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          gf.tokenCount(col("chunk")).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))),
    "q_fim" -> ((s, dir) =>
      // fill-in-the-middle render (PSM order) at deterministic salted
      // cut points — infilling-objective corpus prep
      tbl(s, dir, "documents")
        .select(col("doc_id"), gf.fimTransform(col("doc_id"), col("text")).as("fim"))
        .orderBy(col("doc_id"))),
    "q_span_corrupt" -> ((s, dir) =>
      // T5 block-aligned span corruption: ~1-in-4 blocks of 10 tokens
      // mask their last 3 behind a sentinel (see gf.spanCorrupt)
      tbl(s, dir, "documents")
        .select(col("doc_id"), gf.spanCorrupt(col("doc_id"), col("text")).as("sc"))
        .select(col("doc_id"), col("sc.input").as("input"),
          col("sc.target").as("target"), col("sc.n_masked").as("n_masked"))
        .orderBy(col("doc_id"))),
    "q_dup_spans" -> ((s, dir) =>
      // exact-substring dedup signal (Lee et al. 2021) — 192-bit span-hash
      // keys on every exchange; the oracle groups the raw span text instead
      // (equivalent up to a 2^-192 collision)
      Dedup.dupSpans(tbl(s, dir, "documents"), "doc_id", "text", n = 10)
        .orderBy(col("doc_id"))),
    "q_rrf_fusion" -> ((s, dir) => {
      // hybrid retrieval: BM25 lexical ranking fused with embedding-cosine
      // ranking by reciprocal-rank fusion. Scores round to 6dp BEFORE
      // ranking so rank order is a function of cross-engine-equal values;
      // ranks come from the two-phase global rank (no one-partition window).
      val docs = tbl(s, dir, "documents")
      val emb = tbl(s, dir, "embeddings")
      val lex = graft.operators.Bm25
        .score(docs, "doc_id", "text", Seq("spark", "shuffle", "window"))
        .select(col("doc_id"), graft.functions.gf.roundHalfUp(col("bm25"), 6).as("score"))
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val sem = emb.select(col("vec_id").as("doc_id"),
        graft.functions.gf.roundHalfUp(gf.cosineSimilarity(col("embedding"), Ann.vecLit(q)), 6).as("score"))
      graft.operators.Fusion.rrf(Seq(lex, sem), "doc_id", "score")
        .select(col("doc_id"), graft.functions.gf.roundHalfUp(col("rrf"), 6).as("rrf"))
        .orderBy(col("doc_id"))
    }),
    "q_quality_calibrated" -> ((s, dir) => {
      // per-source quantile calibration: one percentile threshold curates
      // every source fairly. Stratified two-phase rank — a per-source
      // window would funnel each source through one task.
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"), gf.qualityScore(col("text")).as("qscore"))
      graft.operators.Calibration.percentileBy(d, "source", col("qscore"), "doc_id")
        .select(col("doc_id"), col("source"), col("qscore"), col("pctl"))
        .orderBy(col("doc_id"))
    }),
    "q_ann_sq8" -> ((s, dir) => {
      // SQ8 scalar-quantized candidate search: per-dim min/max train (one
      // dim-sized aggregate), uint8 codes, integer inner-product top-k —
      // the 4×-memory-cut scale path in front of exact re-rank.
      val emb = tbl(s, dir, "embeddings")
      val (mn, mx) = Ann.sq8Train(emb, "embedding")
      val q = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      Ann.sq8TopK(emb.withColumn("codes", Ann.sq8Encode(col("embedding"), mn, mx)),
        "vec_id", "codes", Ann.sq8EncodeVec(q, mn, mx), 10)
    }),
    "q_dsir" -> ((s, dir) => {
      // DSIR importance weighting (Xie et al. 2023): λ table fit with
      // target = the 'en' slice, source = the whole corpus; per-doc weight
      // is exact micro-nats via the broadcast quantized table (map-only);
      // selection = deterministic top-100 by (weight, doc_id).
      val table = dsirTable(s, dir)
      val scored = graft.operators.Dsir.scoreMicros(tbl(s, dir, "documents"), "text", table)
      val top = graft.operators.Dsir.selectTopK(scored, "doc_id", DsirK)
        .select(col("doc_id"), lit(1L).as("sel"))
      scored.join(top, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dsir_micros"),
          coalesce(col("sel"), lit(0L)).as("selected"))
        .orderBy(col("doc_id"))
    }),
    "q_quality_classifier" -> ((s, dir) => {
      // fasttext-style LR scoring, the model-based filter's 100 TB half:
      // broadcast quantized weights, integer margin per doc (micros), pure
      // map stage. Training state is memoized so this query and its dynamic
      // oracle replay the SAME weights (see qcModel).
      val (coef, icept) = qcModel(s, dir)
      graft.operators.QualityClassifier
        .marginMicros(tbl(s, dir, "documents"), "text", coef, icept)
        .select(col("doc_id"), col("margin_micros"),
          (col("margin_micros") >= 0).cast("long").as("keep"))
        .orderBy(col("doc_id"))
    }),
    "q_attribution" -> ((s, dir) =>
      // first/last-touch purchase attribution in one per-user window pass
      // (RANGE frame over integer micros - no touch re-shuffle per
      // conversion); 7-day lookback
      graft.operators.Attribution.attribute(
        events(s, dir).withColumn("ts_us", expr("ts DIV 1000")),
        "user_id", "ts_us", "event_type", "event_id",
        touchTypes = Seq("click", "view"), convType = "purchase",
        lookback = 7L * 24 * 3600 * 1000000L)),
    "q_funnel" -> ((s, dir) =>
      // ordered min-ts funnel with a 7-day conversion window — stepwise
      // user-keyed joins, all time math in int64 nanos
      graft.operators.EventAnalytics.funnel(events(s, dir), "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"),
        windowNs = 7L * 86400 * 1000000000L)),
    "q_rfm" -> ((s, dir) => {
      // RFM customer scoring: exact-rank quintiles via the two-phase
      // prefix sum (never a one-partition NTILE); integer day recency
      // against a fixed as-of date, exact cents monetary
      val o = tbl(s, dir, "orders")
      graft.operators.Rfm.scores(o, "o_custkey",
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date")),
        cents(col("o_totalprice")),
        asOf = 10591L)   // days('1998-12-31')
    }),
    "q_retention" -> ((s, dir) =>
      // weekly cohort retention; buckets via integer `div` (int64 nanos
      // exceed double's mantissa — float division would corrupt buckets)
      graft.operators.EventAnalytics.retention(events(s, dir), "user_id", "ts",
        bucketNs = 7L * 86400 * 1000000000L)),
    "q_weighted_sample" -> ((s, dir) =>
      // quality-proportional thinning: survival probability = the doc's
      // own quality score, coin = the salted deterministic hash
      graft.operators.Sampling.byWeight(tbl(s, dir, "documents"), "doc_id",
          gf.qualityScore(col("text")), salt = "wq1")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))),
    "q_blocklist" -> ((s, dir) =>
      // C4-style wordlist filter: docs that survive a blocklist (token-set
      // membership, not substring — no scunthorpe false positives)
      tbl(s, dir, "documents")
        .where(gf.blocklistHits(col("text"),
          Seq("join", "spill", "straggler")) === 0)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))),
    "q_tpch_q3" -> ((s, dir) => {
      // TPC-H Q3 shape (shipping priority): 3-way join, grouped revenue in
      // exact cents (per-row round then integer sum), top-10. Catalyst
      // broadcasts the filtered customer side under AQE.
      val c = tbl(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = tbl(s, dir, "orders")
        .where(col("o_orderdate") < lit("1996-03-15").cast("timestamp"))
      val l = tbl(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1996-03-15").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue_cents"))
        .orderBy(desc("revenue_cents"), col("l_orderkey"))
        .limit(10)
    }),
    "q_tpch_q5" -> ((s, dir) => {
      // TPC-H Q5 shape (local supplier volume): 6-way join with two
      // broadcastable dims; revenue only where the supplier and customer
      // share a nation
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
               col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val l = tbl(s, dir, "lineitem")
      val sup = tbl(s, dir, "supplier")
      val n = tbl(s, dir, "nation")
      val r = tbl(s, dir, "region").where(col("r_name") === "ASIA")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue_cents"))
        .orderBy(desc("revenue_cents"), col("n_name"))
    }),
    "q_triangles" -> ((s, dir) => {
      // triangle enumeration over the supplier co-occurrence graph (the
      // q_basket_rules edges): wedge join bounded by forward degree
      val edges = graft.operators.Basket.frequentPairs(
        tbl(s, dir, "lineitem"), "l_orderkey", "l_suppkey", minSupport = 5)
      graft.operators.Triangles.enumerate(edges, "item_a", "item_b")
        .orderBy(col("a"), col("b"), col("c"))
    }),
    "q_basket_rules" -> ((s, dir) =>
      // market-basket association rules: suppliers co-occurring in orders
      graft.operators.Basket.rules(tbl(s, dir, "lineitem"),
        "l_orderkey", "l_suppkey", minSupport = 5)),
    "q_link_predict" -> ((s, dir) => {
      // distance-2 link-prediction scores on the part co-purchase graph
      // (suppliers form a near-clique at every SF - no non-edges to score;
      // parts give natural sparsity): exact common-neighbors and degree
      // product, Jaccard as the one rounded ratio (Adamic-Adar omitted -
      // libm log is not cross-engine replayable)
      val edges = graft.operators.Basket.frequentPairs(
        tbl(s, dir, "lineitem"), "l_orderkey", "l_partkey", minSupport = 2)
      graft.operators.LinkPredict.scores(edges, "item_a", "item_b")
    }),
    "q_clustering_coeff" -> ((s, dir) => {
      // local clustering coefficient on a SPARSE co-occurrence graph
      // (minSupport=30 thins the supplier graph at the gate SF; exact
      // integer ratio rounded 6dp so the oracle hash-matches)
      val edges = graft.operators.Basket.frequentPairs(
        tbl(s, dir, "lineitem"), "l_orderkey", "l_suppkey", minSupport = 30)
      graft.operators.Triangles.clusteringCoefficient(edges, "item_a", "item_b")
        .orderBy(col("node"))
    }),
    "q_kcore" -> ((s, dir) => {
      // bounded-round 6-core peel over the same sparse co-occurrence graph
      // (8 rounds covers the peel depth at gate SF, so this IS the 6-core;
      // the oracle replays the identical rounds as a finite CTE chain)
      val edges = graft.operators.Basket.frequentPairs(
        tbl(s, dir, "lineitem"), "l_orderkey", "l_suppkey", minSupport = 30)
      graft.operators.Triangles.kCore(edges, "item_a", "item_b", k = 6, rounds = 8)
    }),
    "q_textrank" -> ((s, dir) => {
      // TextRank keywords (Mihalcea & Tarau 2004): adjacent-token
      // co-occurrence graph over >=4-char tokens, symmetric distinct
      // edges, then the SAME integer fixed-point PageRank the supplier
      // graph uses — keyword centrality with a bit-exact oracle. The
      // zip-with-tail pairing is the Dsir bigram shape (null-padded last
      // pair drops via the inequality predicate)
      val toks = tbl(s, dir, "documents").select(
        filter(gf.tokens(col("text")), t => length(t) >= 4).as("_ts"))
      val adj = toks.select(explode(zip_with(col("_ts"),
          slice(col("_ts"), lit(2), size(col("_ts"))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("_p"))
        .select(col("_p.w1").as("w1"), col("_p.w2").as("w2"))
        .where(col("w1") =!= col("w2"))
      val e = adj.select(col("w1").as("s"), col("w2").as("d"))
        .unionAll(adj.select(col("w2").as("s"), col("w1").as("d")))
        .distinct()
      graft.operators.PageRank.pageRank(e, "s", "d", iterations = 5)
    }),
    "q_ktruss" -> ((s, dir) => {
      // bounded-round 5-truss peel (edges in >= 3 triangles) over the
      // same co-occurrence graph — the edge-level cohesion sibling of
      // q_kcore; 4 rounds covers the peel depth at gate SF
      val edges = graft.operators.Basket.frequentPairs(
        tbl(s, dir, "lineitem"), "l_orderkey", "l_suppkey", minSupport = 30)
      graft.operators.Triangles.kTruss(edges, "item_a", "item_b", k = 5, rounds = 4)
    }),
    "q_snapshot_diff" -> ((s, dir) => {
      // audit diff between a corpus and a synthetic next version (every
      // 11th doc dropped, every 7th edited, every 13th re-added under a
      // new id) — the oracle rebuilds version b with identical rules and
      // classifies by direct value comparison (hash-equivalent)
      val a = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val b = a.where(col("doc_id") % 11 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionAll(a.where(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.operators.SnapshotDiff.diff(a, b, "doc_id", Seq("text"))
    }),
    "q_correlation" -> ((s, dir) =>
      // Pearson r from exact integer moments (built-in corr accumulates
      // float moments in partition order — nondeterministic; see Stats)
      graft.operators.Stats.pearson(tbl(s, dir, "documents"),
        col("n_chars"), gf.tokenCount(col("text")))),
    "q_abtest" -> ((s, dir) =>
      // two-proportion z-test: even/odd user split, conversion = purchase
      graft.operators.Stats.twoProportionZ(events(s, dir),
        col("user_id"), col("user_id") % 2, col("event_type") === "purchase")),
    "q_ks_drift" -> ((s, dir) =>
      // two-sample KS distance between doc-id halves over length — the
      // drift monitor as an exact integer rational (see Stats.ksDistance)
      graft.operators.Stats.ksDistance(tbl(s, dir, "documents"),
        col("n_chars"), col("doc_id"))),
    "q_winsorize" -> ((s, dir) => {
      // exact-permille price clipping ([1%, 99%] bounds from the true
      // sorted order via two-phase rank), rolled up per return flag
      val li = tbl(s, dir, "lineitem")
        .withColumn("_k", col("l_orderkey") * 10 + col("l_linenumber"))
      graft.operators.Calibration
        .winsorize(li, cents(col("l_extendedprice")), "_k", 10, 990, "c_clip")
        .groupBy(col("l_returnflag"))
        .agg(count(when(col("clipped"), 1)).as("n_clipped"),
          sum(col("c_clip")).as("sum_clip_c"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),
    "q_knn_classify" -> ((s, dir) => {
      // label propagation: first 100 vectors act as the hand-labeled seed
      // set, the rest get 5-NN majority labels
      val emb = tbl(s, dir, "embeddings")
      Ann.knnClassify(emb.where(col("vec_id") >= 100),
        emb.where(col("vec_id") < 100), "vec_id", "embedding", "label", k = 5)
    }),
    "q_bitext_mine" -> ((s, dir) =>
      // parallel-pair mining: mutual-best cosine + k=1 ratio margin
      // (sides = vec_id parity standing in for two languages)
      graft.operators.BitextMine.mine(tbl(s, dir, "embeddings"),
        "vec_id", "embedding", col("vec_id") % 2 === 0,
        minCos = 0.2, minMargin = 1.05)),
    "q_hard_negatives" -> ((s, dir) => {
      // contrastive-training prep: for 8 anchor vectors, the 5 most
      // similar OTHER-label vectors in the corpus (the negatives a
      // contrastive loss actually learns from)
      val emb = tbl(s, dir, "embeddings")
      Ann.hardNegatives(emb.where(col("vec_id") < 8), emb,
        "vec_id", "embedding", "label", k = 5)
    }),
    "q_retrieval_metrics" -> ((s, dir) => {
      // retrieval eval over a self-labeled ground truth: 8 query vectors,
      // brute-force cosine ranking as the "retriever", same-label docs as
      // the judged-relevant set; hit/recall/precision@5 + MRR are ratios
      // of exact integers (RetrievalEval.retrievalMetrics)
      val (retrieved, relevant) = retrievalInputs(s, dir)
      graft.eval.RetrievalEval.retrievalMetrics(retrieved, relevant, 5)
        .select(col("query_id"), col("n_hits"), col("n_relevant"),
          graft.functions.gf.roundHalfUp(col("recall_at_5"), 6).as("recall_at_5"),
          graft.functions.gf.roundHalfUp(col("precision_at_5"), 6).as("precision_at_5"),
          graft.functions.gf.roundHalfUp(col("reciprocal_rank"), 6).as("reciprocal_rank"))
        .orderBy(col("query_id"))
    }),
    "q_ndcg" -> ((s, dir) => {
      // nDCG@5 with driver-literalized micro-unit weights: all distributed
      // math is int64 sums, only the final ratio divides (ndcgMicro)
      val (retrieved, relevant) = retrievalInputs(s, dir)
      graft.eval.RetrievalEval.ndcgMicro(retrieved, relevant, 5)
        .orderBy(col("query_id"))
    }),
    "q_rouge_f1" -> ((s, dir) => {
      // ROUGE-2 over deterministic generated/reference pairs (overlapping
      // token windows of each doc) — clipped counts are exact integers
      graft.eval.RetrievalEval.rougeN(rougeAnswers(s, dir), 2)
        .orderBy(col("query_id"))
    }),
    "q_chrf" -> ((s, dir) =>
      // chrF (beta=2, char 1..6-grams): clipped-overlap P/R per order,
      // mean as ONE literal addition chain (order-stable floats)
      graft.eval.RetrievalEval.chrF(rougeAnswers(s, dir))
        .orderBy(col("query_id"))),
    "q_bleu" -> ((s, dir) =>
      // BLEU-4 clipped precisions + sqrt-chain geometric core (no libm
      // pow/exp anywhere, so every double is bit-identical cross-engine);
      // brevity penalty left to the caller as exact (cand_len, ref_len)
      graft.eval.RetrievalEval.bleuStats(rougeAnswers(s, dir))
        .orderBy(col("query_id"))),
    "q_answer_f1" -> ((s, dir) =>
      graft.eval.RetrievalEval.answerF1(rougeAnswers(s, dir))
        .select(col("query_id"), graft.functions.gf.roundHalfUp(col("precision"), 6).as("precision"),
          graft.functions.gf.roundHalfUp(col("recall"), 6).as("recall"), graft.functions.gf.roundHalfUp(col("f1"), 6).as("f1"))
        .orderBy(col("query_id"))),
    "q_label_prop" -> ((s, dir) => {
      // seeded min-label spread over the supplier co-occurrence graph:
      // every 25th node seeds its own id as label; 3 synchronous rounds
      // color everything within 3 hops with the smallest reachable seed
      // stored: the basket quadratic feeds seeds AND propagation —
      // without it the co-occurrence join recomputes once per consumer
      val edges = Stored.once(graft.operators.Basket.frequentPairs(
        tbl(s, dir, "lineitem"), "l_orderkey", "l_suppkey", minSupport = 30))
      val nodes = edges.select(col("item_a").as("v"))
        .unionAll(edges.select(col("item_b").as("v"))).distinct()
      val seeds = nodes.where(col("v") % 25 === 0)
        .select(col("v").as("node"), col("v").as("label"))
      graft.operators.LabelProp.propagate(edges, seeds,
        "item_a", "item_b", "node", "label", rounds = 3)
    }),
    "q_modularity" -> ((s, dir) => {
      // Newman modularity of the label-prop communities in EXACT integer
      // arithmetic (Q = sum(q_num)/(4m^2) is the consumer's one division);
      // uncolored nodes become singletons. The operator carries q_num in
      // decimal(38,0) for the >10^9-edge regime; THIS gate's graph has a
      // few hundred edges, so q_num = 4m*e_c - d_c^2 fits int64 with 20
      // decimal digits to spare — emitted as BIGINT because parquet
      // fixed-len-binary decimal and DuckDB HUGEINT->DECIMAL canonicalize
      // differently in the driver's hasher (r10/r11 hash-red with rows and
      // schema green, while both engines agreed locally).
      val edges = Stored.once(graft.operators.Basket.frequentPairs(
        tbl(s, dir, "lineitem"), "l_orderkey", "l_suppkey", minSupport = 30))
      val nodes = edges.select(col("item_a").as("v"))
        .unionAll(edges.select(col("item_b").as("v"))).distinct()
      val seeds = nodes.where(col("v") % 25 === 0)
        .select(col("v").as("node"), col("v").as("label"))
      val colored = graft.operators.LabelProp.propagate(edges, seeds,
        "item_a", "item_b", "node", "label", rounds = 3)
      val labels = nodes.join(colored, nodes("v") === colored("node"), "left")
        .select(nodes("v").as("node"),
          coalesce(colored("label"), nodes("v")).as("label"))
      graft.operators.Modularity.of(edges, "item_a", "item_b",
          labels, "node", "label")
        .withColumn("q_num", col("q_num").cast("bigint"))
    }),
    "q_rollup" -> ((s, dir) => {
      // OLAP rollup totals (status x priority -> status -> grand total),
      // money in exact int64 cents. Finest-grouping aggregate first, then
      // rollup of the tiny aggregate (the q_cube rationale: the Expand x3
      // multiplies ~15 rows, not the corpus).
      val fine = tbl(s, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("_n"), sum(cents(col("o_totalprice"))).as("_c"))
      fine.rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("_n")).as("n"), sum(col("_c")).as("cents"))
        .orderBy(asc_nulls_last("o_orderstatus"), asc_nulls_last("o_orderpriority"))
    }),
    "q_pivot" -> ((s, dir) =>
      // wide-format pivot (priority x status -> cents), explicit value
      // list so the plan is ONE aggregate - no distinct-values pre-scan
      tbl(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(cents(col("o_totalprice"))))
        .orderBy(col("priority"))),
    "q_unpivot" -> ((s, dir) =>
      // long-format melt of the same rollup (unpivot = Spark 3.4 melt)
      tbl(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(sum(when(col("o_orderstatus") === "F", cents(col("o_totalprice")))).as("F"),
          sum(when(col("o_orderstatus") === "O", cents(col("o_totalprice")))).as("O"),
          sum(when(col("o_orderstatus") === "P", cents(col("o_totalprice")))).as("P"))
        .unpivot(Array(col("priority")), Array(col("F"), col("O"), col("P")),
          "status", "cents")
        .where(col("cents").isNotNull)
        .orderBy(col("priority"), col("status"))),
    "q_cube" -> ((s, dir) => {
      // full CUBE (every grouping-set combination incl. per-dimension
      // marginals rollup cannot produce), exact int64 qty/cents.
      // r21: aggregate to the FINEST grouping first (map-side combine to a
      // handful of rows), then cube the tiny aggregate — counts and int64
      // sums are additive, so the grouping-set totals are identical, but
      // the Expand x4 now multiplies ~6 rows instead of the whole corpus.
      val fine = tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("_n"),
          sum(round(col("l_quantity")).cast("long")).as("_q"),
          sum(cents(col("l_extendedprice"))).as("_c"))
      fine.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("_n")).as("n"), sum(col("_q")).as("qty"),
          sum(col("_c")).as("cents"))
        .orderBy(asc_nulls_last("l_returnflag"), asc_nulls_last("l_linestatus"))
    }),
    "q_nfc" -> ((s, dir) =>
      // deterministic decomposed-accent suffix appended to each doc so NFC
      // composition is genuinely exercised (same pattern as q_pii_scrub);
      // both engines implement UAX #15
      tbl(s, dir, "documents").select(col("doc_id"),
          gf.nfcNormalize(concat(substring(col("text"), 1, 30),
            lit(" cafe\u0301 n\u0303 A\u030A"))).as("norm"))
        .orderBy(col("doc_id"))),
    "q_fix_mojibake" -> ((s, dir) =>
      // deterministic mojibake suffix covering EVERY mapping in the repair
      // table (q_nfc pattern) \u2014 the oracle's replace() chain is generated
      // from the same table in the same order, equivalent by construction
      tbl(s, dir, "documents").select(col("doc_id"),
          gf.fixMojibake(concat(substring(col("text"), 1, 40),
            lit(" " + graft.functions.MojibakeRepair.Mappings.map(_._1).mkString(" "))))
            .as("fixed"))
        .orderBy(col("doc_id"))),
    "q_c4_clean" -> ((s, dir) =>
      // the C4 line filter + page keep-decision (Raffel et al. 2020 §2.2)
      tbl(s, dir, "documents").select(col("doc_id"),
          gf.c4CleanLines(col("text")).as("clean_text"),
          gf.c4Keep(col("text")).as("keep"))
        .orderBy(col("doc_id"))),
    "q_gopher_quality" -> ((s, dir) => {
      // the published Gopher filter per doc: exact integer counts + the
      // keep decision as pure int comparisons (N metric columns over one
      // text collapse to ONE GopherStatsExpr evaluation under CSE)
      val st = gf.gopherStats(col("text"))
      tbl(s, dir, "documents").select(col("doc_id"),
          st.getField("n_words").as("n_words"),
          st.getField("n_alpha_words").as("n_alpha_words"),
          st.getField("word_char_sum").as("word_char_sum"),
          st.getField("n_hash").as("n_hash"),
          st.getField("n_ellipsis").as("n_ellipsis"),
          st.getField("n_lines").as("n_lines"),
          st.getField("n_bullet_lines").as("n_bullet_lines"),
          st.getField("n_ellipsis_lines").as("n_ellipsis_lines"),
          st.getField("n_stop_distinct").as("n_stop_distinct"),
          gf.gopherKeep(col("text")).as("keep"))
        .orderBy(col("doc_id"))
    }),
    "q_pagerank" -> ((s, dir) => {
      // supplier -> customer graph derived from order lines; 5 damped
      // rounds of integer fixed-point PageRank (see PageRank scaladoc for
      // why float scores cannot cross-engine hash-match)
      val li = tbl(s, dir, "lineitem")
      val o = tbl(s, dir, "orders")
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("l_suppkey").as("s"), col("o_custkey").as("d"))
      graft.operators.PageRank.pageRank(edges, "s", "d", iterations = 5)
    }),
    "q_pagerank_personal" -> ((s, dir) => {
      // personalized variant: teleport only to suppliers 1-3 — proximity
      // ranking from a seed set, same bit-exact integer fixed-point
      val li = tbl(s, dir, "lineitem")
      val o = tbl(s, dir, "orders")
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("l_suppkey").as("s"), col("o_custkey").as("d"))
      graft.operators.PageRank.personalized(edges, "s", "d",
        seeds = Seq(1L, 2L, 3L), iterations = 5)
    }),
    "q_bpe_encode" -> ((s, dir) => {
      // train a 64-merge subword vocab on the corpus histogram, encode every
      // doc with the single-reference-object expression, emit token counts.
      // Oracled via oracleSqlDynamic: the deterministic merge table rides
      // into the SQL as literals and DuckDB replays the encoding.
      val d = tbl(s, dir, "documents")
      val merges = graft.operators.Bpe.train(d, "text", numMerges = 64)
      d.select(col("doc_id"),
          graft.operators.Bpe.tokenCount(col("text"), merges).cast("long").as("n_bpe"),
          gf.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"))
        .orderBy(col("doc_id"))
    }),
    "q_benford" -> ((s, dir) =>
      // first-digit Benford audit over order totals in cents — the
      // fabricated-numbers screen; expected micro-proportions are
      // driver-quantized literals, deviations pure integer numerators
      // (see Checks.benfordDigits)
      graft.operators.Checks.benfordDigits(tbl(s, dir, "orders"),
        cents(col("o_totalprice")))),
    "q_tpch_q7" -> ((s, dir) => {
      // TPC-H Q7 shape (volume shipping): revenue between two nation
      // BANDS in both directions per ship year (single-nation pairs are
      // empty at sf0.001); both nation dims broadcast, exact per-row
      // cents rounding before the integer sum
      val li = tbl(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      val o = tbl(s, dir, "orders")
      val cst = tbl(s, dir, "customer")
      val sup = tbl(s, dir, "supplier")
      val n = tbl(s, dir, "nation")
      val n1 = n.select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val n2 = n.select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(cst, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
        .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
        .where((col("s_nationkey") < 3 && col("c_nationkey") >= 22) ||
          (col("s_nationkey") >= 22 && col("c_nationkey") < 3))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue_cents"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),
    "q_tpch_q10" -> ((s, dir) => {
      // TPC-H Q10 shape (returned-item losses): one quarter's orders,
      // returned lines only, per customer with nation, top 20 by revenue
      val o = tbl(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      val li = tbl(s, dir, "lineitem").where(col("l_returnflag") === "R")
      val cst = tbl(s, dir, "customer")
      val n = tbl(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(cst, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"),
          cents(col("c_acctbal")).as("acctbal_cents"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue_cents"))
        .orderBy(desc("revenue_cents"), col("c_custkey"))
        .limit(20)
    }),
    "q_record_linkage" -> ((s, dir) => {
      // Fellegi-Sunter over a deterministic "dirty second database":
      // every 3rd nation bumped, every 5th segment tagged, every 7th
      // balance shifted $100; candidates = true pair + next-key impostor.
      // Field weights are driver-quantized milli-bits (Linkage.milliBits)
      // so the pair score is pure integer addition in both engines
      val (_, _, pairs) = linkageInputs(s, dir)
      graft.operators.Linkage.fellegiSunter(pairs, linkageFields,
          upperMb = 5000L, lowerMb = 0L)
        .select(col("l_key"), col("r_key"), col("weight_mb"), col("decision"))
        .orderBy(col("l_key"), col("r_key"))
    }),
    "q_er_e2e" -> ((s, dir) => {
      // the ER pipeline as ONE verified chain (the q_curation_e2e idea
      // for entity resolution): candidate pairs -> Fellegi-Sunter match
      // decisions -> TRANSITIVE CLOSURE of matches (connected components
      // over the disjoint clean/dirty id spaces) -> survivorship rollup
      // (cluster size + best balance). Impostor matches chain clusters
      // beyond the true pairs, so the closure does real work
      val (clean, dirty, pairs) = linkageInputs(s, dir)
      val matches = graft.operators.Linkage.fellegiSunter(pairs, linkageFields,
          upperMb = 5000L, lowerMb = 0L)
        .where(col("decision") === "match")
        .select((col("l_key") * 2).as("u"), (col("r_key") * 2 + 1).as("v"))
      val cc = Dedup.connectedComponents(matches, "u", "v")
      val attrs = clean.select((col("l_key") * 2).as("id"), col("l_bal_c").as("bal_c"))
        .unionAll(dirty.select((col("r_key") * 2 + 1).as("id"), col("r_bal_c").as("bal_c")))
      cc.join(attrs, "id")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"), max(col("bal_c")).as("best_bal_c"))
        .orderBy(col("component"))
    }),
    "q_asof_forward" -> ((s, dir) => {
      // the FORWARD as-of with tolerance (pandas merge_asof direction=
      // 'forward' parity): each purchase joins the user's next click
      // within 10 minutes — follow-on engagement; matches beyond the
      // tolerance null out, equal-µs ties break on the min payload
      val ev = events(s, dir).withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"), col("event_id").as("click_id"))
      graft.operators.AsofJoin.asofForward(purchases, clicks, "user_id", "ts_us",
          tolerance = Some(600000000L))
        .orderBy(col("event_id"))
    }),
    "q_ols_trend" -> ((s, dir) =>
      // per-flag revenue trend: cents regressed on ship epoch-day from
      // exact decimal moment sums; slope/intercept/r2 run one fixed IEEE
      // chain per group (see Stats.olsBy)
      graft.operators.Stats.olsBy(tbl(s, dir, "lineitem"),
        col("l_returnflag"),
        expr("DATEDIFF(CAST(l_shipdate AS DATE), DATE '1970-01-01')"),
        cents(col("l_extendedprice")))),
    "q_chi2" -> ((s, dir) =>
      // priority x status independence: exact integer contingency table,
      // decimal(38,0) cell numerators, ORDERED float fold (see
      // Stats.chiSquare for why unordered SUM can't cross engines)
      graft.operators.Stats.chiSquare(tbl(s, dir, "orders"),
        col("o_orderpriority"), col("o_orderstatus"))),
    "q_interval_overlap" -> ((s, dir) => {
      // interval OVERLAP join (vs q_range_join's fixed-width point
      // proximity): long transit windows [ship_day, ship_day + qty] of
      // heavy lines vs short windows of light lines, per supplier —
      // bucketed-explode equi-join, first-shared-bucket multiplicity
      // rule, never a nested-loop (see IntervalJoin)
      val li = tbl(s, dir, "lineitem")
      // calendar-day arithmetic (NTZ timestamp -> date -> epoch days):
      // identical in both engines, no epoch/timezone conversion involved
      val dayL = expr("CAST(DATEDIFF(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS LONG)")
      val base = li.select(col("l_suppkey").as("sk"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
        dayL.as("s"),
        (dayL + col("l_quantity").cast("long")).as("e"),
        col("l_quantity"))
      val l = base.where(col("l_quantity") >= 49)
        .select(col("sk"), col("id").as("lid"), col("s").as("ls"), col("e").as("le"))
      val r = base.where(col("l_quantity") <= 2)
        .select(col("sk"), col("id").as("rid"), col("s").as("rs"), col("e").as("re"))
      graft.operators.IntervalJoin.overlap(l, r, "ls", "le", "rs", "re",
          width = 64, keys = Seq("sk"))
        .select(col("sk"), col("lid"), col("rid"),
          (least(col("le"), col("re")) - greatest(col("ls"), col("rs")) + 1)
            .as("overlap_days"))
        .orderBy(col("sk"), col("lid"), col("rid"))
    }),
    "q_k_anon" -> ((s, dir) => {
      // k-anonymous release by global full-domain generalization of the
      // order date (month -> quarter -> year ladder) against the priority
      // quasi-identifier; coarsest-level stragglers are suppressed. The
      // released aggregate is what a privacy-preserving stats endpoint
      // would publish (see Privacy.kAnonymize)
      val o = tbl(s, dir, "orders")
      val ladder = Seq(
        "month" -> date_format(col("o_orderdate"), "yyyy-MM"),
        "quarter" -> concat(year(col("o_orderdate")).cast("string"), lit("-Q"),
          quarter(col("o_orderdate")).cast("string")),
        "year" -> year(col("o_orderdate")).cast("string"))
      graft.operators.Privacy.kAnonymize(o, ladder,
          Seq(col("o_orderpriority")), k = 50L)
        .groupBy(col("gen_level"), col("qi"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("qi"), col("o_orderpriority"))
    }),
    "q_k_anon_multi" -> ((s, dir) => {
      // Incognito-style PRODUCT lattice over TWO quasi-identifier ladders
      // (order date month->quarter->year x price $10k->$100k->*), walked
      // by total height then lexicographic level vector; the first node
      // where every (date, price, priority) group reaches k generalizes
      // the release. All level values are strings on both engines; price
      // buckets are integer cents DIV — exact cross-engine
      val o = tbl(s, dir, "orders")
      val dateLadder = Seq(
        "month" -> date_format(col("o_orderdate"), "yyyy-MM"),
        "quarter" -> concat(year(col("o_orderdate")).cast("string"), lit("-Q"),
          quarter(col("o_orderdate")).cast("string")),
        "year" -> year(col("o_orderdate")).cast("string"))
      val priceLadder = Seq(
        "price10k" -> expr(
          "CAST(CAST(round(o_totalprice * 100) AS BIGINT) DIV 1000000 AS STRING)"),
        "price100k" -> expr(
          "CAST(CAST(round(o_totalprice * 100) AS BIGINT) DIV 10000000 AS STRING)"),
        "priceAll" -> lit("*"))
      graft.operators.Privacy.kAnonymizeMulti(o, Seq(dateLadder, priceLadder),
          Seq(col("o_orderpriority")), k = 20L)
        .groupBy(col("gen_level"), col("qi0"), col("qi1"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("qi0"), col("qi1"), col("o_orderpriority"))
    }),
    "q_l_diversity" -> ((s, dir) => {
      // l-diversity release: (year, priority) groups must carry >= 3
      // DISTINCT order statuses or be suppressed (homogeneity-attack
      // guard on top of k-anonymity; Privacy.lDiversify)
      val o = tbl(s, dir, "orders")
      graft.operators.Privacy.lDiversify(o,
          Seq(year(col("o_orderdate")).cast("string"), col("o_orderpriority")),
          col("o_orderstatus"), l = 3L)
        .groupBy(year(col("o_orderdate")).cast("string").as("yr"),
          col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("yr"), col("o_orderpriority"))
    }),
    "q_hll_distinct" -> ((s, dir) => {
      // integer-exact HyperLogLog per order priority (Hll.approxDistinct,
      // p=8): the raw estimator, the scaled harmonic denominator, and the
      // zero-register count all replay bit-for-bit in SQL, shown next to
      // the exact distinct count so the ~6.5% error bound is visible
      val o = tbl(s, dir, "orders")
      val rep = graft.operators.Hll.approxDistinct(
        o, Seq(col("o_orderpriority")), col("o_custkey"), p = 8)
      val exact = o.groupBy(col("o_orderpriority").as("_ep"))
        .agg(count_distinct(col("o_custkey")).as("n_exact"))
      rep.join(exact, col("g0") === col("_ep"))
        .select(col("g0").as("o_orderpriority"), col("n_exact"),
          col("est_distinct"), col("v_zero"), col("harm_scaled"))
        .orderBy(col("o_orderpriority"))
    }),
    "q_t_closeness" -> ((s, dir) => {
      // t-closeness report (Privacy.tClosenessReport, Li et al. 2007 —
      // completes the k-anon → l-diversity → t-closeness family): per
      // nation, is the account-balance distribution within EMD t = 0.15
      // (the paper's example t) of the global one? Sensitive domain =
      // thousand-dollar balance buckets (exact cents, shifted non-negative
      // so integer division has no floor/truncate ambiguity); all EMD math
      // exact integers — the gate emits the raw (emd_num, emd_den) pair,
      // no division anywhere
      val cust = tbl(s, dir, "customer")
      val cents = round(col("c_acctbal") * 100).cast("long")
      val sv = floor((cents + lit(100000L)) / lit(100000.0)).cast("long")
      graft.operators.Privacy.tClosenessReport(
          cust.select(col("c_nationkey").cast("long").as("nation"),
            sv.as("bal_bucket")),
          Seq(col("nation")), col("bal_bucket"), tPpm = 150000L)
        .select(col("qi0").as("nation"), col("n"),
          col("emd_num").cast("long").as("emd_num"),
          col("emd_den").cast("long").as("emd_den"), col("pass"))
        .orderBy(col("nation"))
    }),
    "q_seasonality" -> ((s, dir) =>
      // hour-of-day seasonal profile per event type: share-of-mass
      // seasonal index in exact integer micros (EventAnalytics.seasonality)
      graft.operators.EventAnalytics.seasonality(events(s, dir),
        "event_type", "ts", slotNs = 3600L * 1000000000L, nSlots = 24)),
    "q_skew_report" -> ((s, dir) =>
      // join-key skew audit on events.user_id: top-10 heaviest keys with
      // exact integer-micro shares + table totals (Profiler.keySkew) —
      // the pre-join report that decides broadcast vs salting
      graft.operators.Profiler.keySkew(events(s, dir), col("user_id"), topK = 10)
        .orderBy(col("n").desc, col("key"))),
    "q_kfold" -> ((s, dir) =>
      // deterministic 5-fold assignment over documents with per-fold
      // language stratification audit (Sampling.kFold)
      graft.operators.Sampling.kFold(tbl(s, dir, "documents"), "doc_id", 5,
          salt = "cv1")
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n"), countDistinct(col("lang")).as("n_langs"))
        .orderBy(col("fold"))),
    "q_curation_e2e" -> ((s, dir) => {
      // the whole curation pipeline as ONE verified chain — quality filter
      // (GopherStatsExpr fields, thresholds tuned to this corpus; the
      // published constants are locked by q_gopher_quality) → MinHash-LSH
      // near-dup dedup → token-budget language mixture → sequence packing —
      // with EXACT per-stage survivor counts and token mass, so a
      // divergence anywhere in the composition (not just in one operator)
      // fails the gate. The mojibake-repair and C4 line-clean stages are
      // no-ops on this corpus (no mojibake bytes, no line structure) and
      // carry their own gates (q_fix_mojibake, q_c4_clean).
      val toks = gf.tokenCount(col("text")).cast("long")
      val d0 = tbl(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      val st = gf.gopherStats(col("text"))
      val q = Stored.cached(d0.where(
          st.getField("n_words").between(30, 100000) &&
          st.getField("word_char_sum") >= st.getField("n_words") * 3 &&
          st.getField("word_char_sum") <= st.getField("n_words") * 10 &&
          st.getField("n_alpha_words") * 5 >= st.getField("n_words") * 4 &&
          st.getField("n_stop_distinct") >= 1))
      val dd = Stored.cached(Dedup.minhashLsh(q, "doc_id", "text",
          signature = Some(t => gf.minhashPoly(gf.wordShingles(t, 5), 16))))
      val mx = Stored.cached(graft.operators.Sampling.tokenBudgetMixture(dd, "doc_id", "lang",
          toks, Map("en" -> 5000L, "de" -> 2000L, "es" -> 1000L,
            "zh" -> 1000000000L), salt = "mix1"))
      val packed = graft.operators.Packing.packSequences(mx, "doc_id", toks, 512)
      // n_units = surviving docs per stage, CHUNKS for the pack stage
      def stageRow(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_units"),
            coalesce(sum(toks), lit(0L)).as("n_tokens"))
          .select(lit(name).as("stage"), col("n_units"), col("n_tokens"))
      val packRow = packed
        .agg(coalesce(max(col("tok_end")), lit(0L)).as("_t"))
        .select(lit("04_pack").as("stage"),
          expr("(_t + 511) DIV 512").as("n_units"), col("_t").as("n_tokens"))
      stageRow("00_ingest", d0)
        .unionAll(stageRow("01_quality", q))
        .unionAll(stageRow("02_dedup", dd))
        .unionAll(stageRow("03_mixture", mx))
        .unionAll(packRow)
        .orderBy(col("stage"))
    }),
    "q_graph_e2e" -> ((s, dir) => {
      // the graph family as ONE verified chain — basket co-occurrence
      // edges → 4-core peel → triangle census ON THE CORE → connected
      // components of the core → exact-integer Newman modularity of the
      // COMPONENT partition. Each stage runs on the previous stage's
      // surviving subgraph (kCoreEdges exposes the peeled edge set), so a
      // divergence anywhere in the composition fails the gate. This
      // corpus's co-occurrence core is ONE dense component at gate SFs, so
      // the final Q numerator must come out EXACTLY zero — Σ(4m·e_c −
      // d_c²) = 0 for the trivial partition only if every stage count,
      // degree, and edge census is exact on both engines.
      val edges = Stored.cached(graft.operators.Basket.frequentPairs(
        tbl(s, dir, "lineitem"), "l_orderkey", "l_suppkey", minSupport = 30))
      val core = Stored.cached(graft.operators.Triangles.kCoreEdges(
        edges, "item_a", "item_b", k = 4, rounds = 8))
      val tri = Stored.cached(graft.operators.Triangles.enumerate(core, "a", "b"))
      val cc = Stored.cached(graft.dedup.Dedup.connectedComponents(core, "a", "b"))
      val mod = graft.operators.Modularity.of(core, "a", "b",
        cc, "id", "component")
      def nodesOf(df: DataFrame, cols: Seq[String]) = df
        .select(explode(array(cols.map(col): _*)).as("_v"))
        .agg(count_distinct(col("_v")).as("aux"))
      val r0 = edges.agg(count(lit(1)).as("n_units"))
        .crossJoin(broadcast(nodesOf(edges, Seq("item_a", "item_b"))))
        .select(lit("00_edges").as("stage"), col("n_units"), col("aux"))
      val r1 = core.agg(count(lit(1)).as("n_units"))
        .crossJoin(broadcast(nodesOf(core, Seq("a", "b"))))
        .select(lit("01_kcore").as("stage"), col("n_units"), col("aux"))
      val r2 = tri.agg(count(lit(1)).as("n_units"))
        .crossJoin(broadcast(nodesOf(tri, Seq("a", "b", "c"))))
        .select(lit("02_triangles").as("stage"), col("n_units"), col("aux"))
      val r3 = cc.groupBy(col("component")).agg(count(lit(1)).as("_n"))
        .agg(count(lit(1)).as("n_units"), coalesce(max(col("_n")), lit(0L)).as("aux"))
        .select(lit("03_components").as("stage"), col("n_units"), col("aux"))
      val r4 = mod.agg(count(lit(1)).as("n_units"),
          coalesce(sum(col("q_num")), lit(0L)).cast("long").as("aux"))
        .select(lit("04_modularity").as("stage"), col("n_units"), col("aux"))
      r0.unionAll(r1).unionAll(r2).unionAll(r3).unionAll(r4)
        .select(col("stage"), col("n_units").cast("long"), col("aux").cast("long"))
        .orderBy(col("stage"))
    }),
    "q_retrieval_e2e" -> ((s, dir) => {
      // the hybrid-retrieval pipeline as ONE verified chain — per-query
      // BM25 lexical lists (query terms derived deterministically from
      // each query doc's text) + per-query IVF vector shortlists (pinned
      // first-16 codebook, nprobe 4) → grouped reciprocal-rank fusion →
      // nDCG@5 against label-match qrels, with exact integer stage counts
      // and the int64 DCG mass as the eval checksum. Scores round to 6dp
      // BEFORE every ranking so rank order is a function of
      // cross-engine-equal values (the q_rrf_fusion rule).
      val docs = tbl(s, dir, "documents")
      val emb = tbl(s, dir, "embeddings")
      val qterms = retrievalQueryTerms(s, dir)
      // bounded driver state, same contract as q_ann_ivf's pinned codebook.
      // ONE collect (r22): centroids (first 16), query vectors (first 8),
      // and the query anchors' labels all come from the same 16 rows —
      // previously three separate driver jobs scanned embeddings for them.
      // Float->double widening is exact, so splitting the raw collect
      // driver-side is bit-identical to the old cast("array<double>") path.
      val head16 = emb.where(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("vec_id"), col("embedding"), col("label")).collect()
      val centroids = head16.map(_.getSeq[Float](1).map(_.toDouble).toArray)
      val qvecs = head16.filter(_.getLong(0) < 8)
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
      // ONE corpus scan per arm regardless of query count (r13 verdict #2):
      // Bm25.scoreMany replaces the per-query BM25 loop (the pad keeps the
      // dense top-10 contract for queries matching < 10 docs), ivfTopKMany
      // replaces the per-query IVF loop. Per-query top-k falls out of a
      // window over query_id — same (rounded score desc, doc_id) order as
      // the old per-query orderBy/limit.
      val termsDf = {
        import s.implicits._
        qterms.flatMap { case (q, ts) => ts.map(t => (q, t)) }
          .toDF("query_id", "term")
      }
      val wLex = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      val lex = Stored.cached(graft.operators.Bm25
        .scoreMany(docs, "doc_id", "text", termsDf, padTo = 10)
        .select(col("query_id"), col("doc_id"), graft.functions.gf.roundHalfUp(col("bm25"), 6).as("score"))
        .withColumn("_rn", row_number().over(wLex))
        .where(col("_rn") <= 10).drop("_rn"))
      val vec = Stored.cached(Ann.ivfTopKMany(emb, "vec_id", "embedding", centroids,
          qvecs.toSeq, 10, nprobe = 4)
        .select(col("query_id"), col("vec_id").as("doc_id"),
          graft.functions.gf.roundHalfUp(col("cosine"), 6).as("score")))
      val wq = Window.partitionBy(col("query_id"))
        .orderBy(graft.functions.gf.roundHalfUp(col("rrf"), 6).desc, col("doc_id"))
      val fused = Stored.cached(graft.operators.Fusion
        .rrfBy(Seq(lex, vec), "query_id", "doc_id", "score")
        .withColumn("rank", row_number().over(wq).cast("long"))
        .where(col("rank") <= 10))
      // anchors re-enter as a literal frame from the same collected rows —
      // no fourth scan branch over embeddings for 8 (id, label) pairs
      val anchors = {
        import s.implicits._
        head16.filter(_.getLong(0) < 8)
          .map(r => (r.getLong(0), r.getInt(2))).toSeq
          .toDF("query_id", "qlbl")
      }
      val relevant = emb.select(col("vec_id").as("doc_id"), col("label").as("clbl"))
        .crossJoin(broadcast(anchors))
        .where(col("qlbl") === col("clbl"))
        .select(col("query_id"), col("doc_id"))
      val eval = graft.eval.RetrievalEval.ndcgMicro(
        fused.select(col("query_id"), col("doc_id"), col("rank")), relevant, 5)
      val r0 = lex.sparkSession.range(1)
        .select(lit("00_queries").as("stage"),
          lit(qterms.size.toLong).as("n_units"),
          lit(qterms.map(_._2.size.toLong).sum).as("aux"))
      def arm(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_units"),
            count_distinct(col("doc_id")).as("aux"))
          .select(lit(name).as("stage"), col("n_units"), col("aux"))
      val r4 = eval.agg(count(lit(1)).as("n_units"),
          coalesce(sum(col("dcg_micro")), lit(0L)).as("aux"))
        .select(lit("04_eval").as("stage"), col("n_units"), col("aux"))
      r0.unionAll(arm("01_lexical", lex))
        .unionAll(arm("02_vector", vec))
        .unionAll(arm("03_fused", fused))
        .unionAll(r4)
        .select(col("stage"), col("n_units").cast("long"), col("aux").cast("long"))
        .orderBy(col("stage"))
    }),
    "q_events_e2e" -> ((s, dir) => {
      // the events-analytics family as ONE verified chain — 30-minute
      // sessionization gates an ENGAGED population (>= 2 sessions), the
      // view->click->purchase funnel runs only on engaged users' events,
      // first/last-touch attribution only on the funnel's CONVERTED
      // users, and weekly cohort retention only on those same users.
      // Every stage count is an exact integer over the previous stage's
      // survivor population, so a divergence anywhere in the composition
      // fails the gate (the q_curation_e2e idea for the events family).
      val weekNs = 7L * 86400 * 1000000000L
      val ev = Stored.cached(events(s, dir).withColumn("ts_us", expr("ts DIV 1000")))
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val nSess = ev
        .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
        .withColumn("new_sess", when(col("prev_ts").isNull ||
          col("ts_us") - col("prev_ts") > 30L * 60 * 1000000L, 1L).otherwise(0L))
        .groupBy(col("user_id")).agg(sum(col("new_sess")).as("n_sessions"))
      val engaged = Stored.cached(nSess.where(col("n_sessions") >= 2))
      val evEng = Stored.cached(ev.join(engaged.select("user_id"), Seq("user_id"), "left_semi"))
      val reach = graft.operators.EventAnalytics.funnelReach(evEng, "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"), windowNs = weekNs)
      val conv = Stored.cached(reach.last.select(col("_u").as("user_id")))
      val evConv = Stored.cached(evEng.join(conv, Seq("user_id"), "left_semi"))
      val attr = Stored.cached(graft.operators.Attribution.attribute(evConv, "user_id",
          "ts_us", "event_type", "event_id",
          touchTypes = Seq("click", "view"), convType = "purchase",
          lookback = 7L * 24 * 3600 * 1000000L))
      val ret = graft.operators.EventAnalytics.retention(evConv, "user_id",
        "ts", weekNs)
      val r0 = ev.agg(count(lit(1)).as("n_units"),
          countDistinct(col("user_id")).as("aux"))
        .select(lit("00_ingest").as("stage"), col("n_units"), col("aux"))
      val r1 = engaged.agg(count(lit(1)).as("n_units"),
          coalesce(sum(col("n_sessions")), lit(0L)).as("aux"))
        .select(lit("01_engaged").as("stage"), col("n_units"), col("aux"))
      val r2 = conv.agg(count(lit(1)).as("n_units"))
        .crossJoin(broadcast(reach.head.agg(count(lit(1)).as("aux"))))
        .select(lit("02_funnel").as("stage"), col("n_units"), col("aux"))
      val r3 = attr.agg(
          coalesce(sum(when(col("n_touches") >= 1, 1L).otherwise(0L)), lit(0L))
            .as("n_units"),
          coalesce(sum(col("n_touches")), lit(0L)).as("aux"))
        .select(lit("03_attribution").as("stage"), col("n_units"), col("aux"))
      val r4 = ret.agg(
          coalesce(sum(when(col("bucket_offset") >= 1, col("users"))
            .otherwise(0L)), lit(0L)).as("n_units"),
          count(lit(1)).as("aux"))
        .select(lit("04_retention").as("stage"), col("n_units"), col("aux"))
      r0.unionAll(r1).unionAll(r2).unionAll(r3).unionAll(r4)
        .select(col("stage"), col("n_units").cast("long"), col("aux").cast("long"))
        .orderBy(col("stage"))
    }),
    "q_media_e2e" -> ((s, dir) => {
      // the multimodal family as ONE verified chain — synthetic raster
      // corpus (MediaCorpus: deterministic bytes per doc_id, generated
      // DISTRIBUTED as column arithmetic; a byte-identical driver twin
      // feeds the oracle) → magic-byte sniff → decode + perceptual dHash →
      // pigeonhole-bucketed near-dup pairs → color-histogram embedding
      // (integer bin counts) → argmax-bin buckets → vector-store write +
      // merge-on-read read-back. DuckDB cannot decode rasters, so the
      // oracle literalizes each image's (fmt, dhash, bins) computed by the
      // driver twin and independently replays every RELATIONAL stage
      // (sniff counts, brute-force hamming pairs, bin checksum, argmax
      // buckets) from that table. All stage values are exact integers.
      val corpus = Stored.cached(tbl(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.MediaCorpus.bytesCol(col("doc_id")).as("bytes")))
      val sniffed = corpus.select(
        graft.operators.SniffExpr.sniffFormat(col("bytes")).as("fmt"))
      // decode-once (r22): ONE expression yields struct(dhash, hist) per
      // raster — the chain previously decoded each image up to 3x (dHash,
      // the near-dup sketch inside imageNearDupPairs, the histogram). Same
      // decoder and feature math, so every stage value is bit-identical;
      // the near-dup join consumes the PRE-COMPUTED dhash through
      // simhashPairs' pluggable-sketch seam (identity fn) instead of
      // re-decoding the corpus.
      val decoded = Stored.cached(corpus
        .select(col("doc_id"),
          graft.operators.MediaOps.featuresCol(col("bytes")).as("_mf"))
        .select(col("doc_id"), col("_mf.dhash").as("dhash"), col("_mf.hist").as("emb"))
        .where(col("dhash").isNotNull))
      val pairs = graft.dedup.Dedup.simhashPairs(
        decoded.select(col("doc_id"), col("dhash")), "doc_id", "dhash",
        maxHamming = 6, simhashFn = c => c, bits = 64)
      val embedded = decoded
        .select(col("doc_id"), col("emb"))
        .withColumn("bins",
          transform(col("emb"), x => round(x * 64).cast("long")))
      // vector-store roundtrip: bulk append + merge-on-read read-back
      val storePath = java.nio.file.Files
        .createTempDirectory("graft_media_store").toString
      val store = new graft.sources.ParquetVectorStore(storePath)
      store.append(graft.sources.DocRead.fromDataFrame(
        embedded.select(col("doc_id").cast("string").as("id"),
          col("emb").as("embedding")),
        Some("id"), None))
      val r0 = corpus.agg(count(lit(1)).as("n_units"))
        .select(lit("00_corpus").as("stage"), col("n_units"), lit(0L).as("aux"))
      val r1 = sniffed.agg(
          coalesce(sum(when(col("fmt") =!= "", 1L).otherwise(0L)), lit(0L)).as("n_units"),
          coalesce(sum(when(col("fmt") === "", 1L).otherwise(0L)), lit(0L)).as("aux"))
        .select(lit("01_sniff").as("stage"), col("n_units"), col("aux"))
      val r2 = decoded.agg(count(lit(1)).as("n_units"))
        .select(lit("02_decode").as("stage"), col("n_units"), lit(0L).as("aux"))
      val r3 = pairs.agg(count(lit(1)).as("n_units"),
          coalesce(sum(col("hamming").cast("long")), lit(0L)).as("aux"))
        .select(lit("03_neardup").as("stage"), col("n_units"), col("aux"))
      val r4 = embedded
        .select(col("doc_id"), posexplode(col("bins")))
        .agg(count_distinct(col("doc_id")).as("n_units"),
          coalesce(sum((col("pos") + 1) * col("col")), lit(0L)).as("aux"))
        .select(lit("04_embed").as("stage"), col("n_units"), col("aux").cast("long"))
      val r5 = embedded
        .select(array_position(col("emb"), array_max(col("emb"))).as("bkt"))
        .groupBy(col("bkt")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_units"), coalesce(max(col("n")), lit(0L)).as("aux"))
        .select(lit("05_buckets").as("stage"), col("n_units"), col("aux"))
      val r6 = store.read(s).agg(count(lit(1)).as("n_units"))
        .select(lit("06_store").as("stage"), col("n_units"), lit(0L).as("aux"))
      r0.unionAll(r1).unionAll(r2).unionAll(r3).unionAll(r4).unionAll(r5)
        .unionAll(r6)
        .select(col("stage"), col("n_units").cast("long"), col("aux").cast("long"))
        .orderBy(col("stage"))
    }),
    "q_audio_e2e" -> ((s, dir) => {
      // the audio family as ONE verified chain — synthetic WAV corpus
      // (AudioCorpus: deterministic bytes per doc_id generated DISTRIBUTED
      // as column arithmetic; byte-identical driver twin feeds the oracle;
      // 8-bit, float-identical 16-bit, and garbage arms) → magic-byte
      // sniff → PCM decode + perceptual aHash → pigeonhole-bucketed
      // near-dup pairs → 64-segment energy-envelope embedding (integer
      // micros) → argmax-segment buckets → vector-store write + read-back.
      // DuckDB cannot decode WAV, so the oracle literalizes each clip's
      // (fmt, ahash, envelope micros) computed by the driver twin and
      // independently replays every RELATIONAL stage. The q_media_e2e
      // pattern, applied to the audio leg (r13 verdict item #5).
      val corpus = Stored.cached(tbl(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.AudioCorpus.bytesCol(col("doc_id")).as("bytes")))
      val sniffed = corpus.select(
        graft.operators.SniffExpr.sniffFormat(col("bytes")).as("fmt"))
      val decoded = Stored.cached(corpus
        .select(col("doc_id"), col("bytes"),
          graft.operators.AudioOps.aHash(col("bytes")).as("ahash"))
        .where(col("ahash").isNotNull))
      val pairs = graft.operators.AudioOps.audioNearDupPairs(
        corpus, "doc_id", "bytes", maxHamming = 6)
      val embedded = Stored.cached(decoded
        .select(col("doc_id"),
          graft.operators.AudioOps.envelopeCol(col("bytes")).as("emb"))
        .withColumn("bins",
          transform(col("emb"),
            x => round(x.cast("double") * lit(1000000.0)).cast("long"))))
      val storePath = java.nio.file.Files
        .createTempDirectory("graft_audio_store").toString
      val store = new graft.sources.ParquetVectorStore(storePath)
      store.append(graft.sources.DocRead.fromDataFrame(
        embedded.select(col("doc_id").cast("string").as("id"),
          col("emb").as("embedding")),
        Some("id"), None))
      val r0 = corpus.agg(count(lit(1)).as("n_units"))
        .select(lit("00_corpus").as("stage"), col("n_units"), lit(0L).as("aux"))
      val r1 = sniffed.agg(
          coalesce(sum(when(col("fmt") === "wav", 1L).otherwise(0L)), lit(0L)).as("n_units"),
          coalesce(sum(when(col("fmt") === "", 1L).otherwise(0L)), lit(0L)).as("aux"))
        .select(lit("01_sniff").as("stage"), col("n_units"), col("aux"))
      val r2 = decoded.agg(count(lit(1)).as("n_units"),
          count_distinct(col("ahash")).as("aux"))
        .select(lit("02_decode").as("stage"), col("n_units"), col("aux"))
      val r3 = pairs.agg(count(lit(1)).as("n_units"),
          coalesce(sum(col("hamming").cast("long")), lit(0L)).as("aux"))
        .select(lit("03_neardup").as("stage"), col("n_units"), col("aux"))
      val r4 = embedded
        .select(col("doc_id"), posexplode(col("bins")))
        .agg(count_distinct(col("doc_id")).as("n_units"),
          coalesce(sum((col("pos") + 1) * col("col")), lit(0L)).as("aux"))
        .select(lit("04_embed").as("stage"), col("n_units"), col("aux").cast("long"))
      // argmax over the INTEGER micro bins (not the float envelope), so the
      // oracle's list_position over the same literal ints is exact
      val r5 = embedded
        .select(array_position(col("bins"), array_max(col("bins"))).as("bkt"))
        .groupBy(col("bkt")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_units"), coalesce(max(col("n")), lit(0L)).as("aux"))
        .select(lit("05_buckets").as("stage"), col("n_units"), col("aux"))
      val r6 = store.read(s).agg(count(lit(1)).as("n_units"))
        .select(lit("06_store").as("stage"), col("n_units"), lit(0L).as("aux"))
      r0.unionAll(r1).unionAll(r2).unionAll(r3).unionAll(r4).unionAll(r5)
        .unionAll(r6)
        .select(col("stage"), col("n_units").cast("long"), col("aux").cast("long"))
        .orderBy(col("stage"))
    }),

    "q_video_e2e" -> ((s, dir) => {
      // the video family as ONE verified chain, completing the multimodal
      // triad next to q_media_e2e/q_audio_e2e — synthetic GFV0 containers
      // (VideoCorpus: 8 PPM/BMP frames per doc_id in 3 scenes, generated
      // DISTRIBUTED as column arithmetic; byte-identical driver twin feeds
      // the oracle; corrupt-frame and corrupt-container arms) → codegen'd
      // frame sampling (everyN=2 through the pluggable FrameSampler seam)
      // → per-frame dHash → scene-cut detection (consecutive-frame hamming
      // over a key-partitioned window) → per-video bit-majority signature
      // (ONE groupBy, 64 partial-aggregable bit sums) → pigeonhole
      // near-dup pairs → first-keyframe color-histogram embedding →
      // vector-store write + read-back. DuckDB cannot slice or decode the
      // containers, so the oracle literalizes each sampled frame's dHash
      // computed by the driver twin and independently replays every
      // RELATIONAL stage (r13 verdict: audio/video were the last unit-only
      // media members; this closes video).
      val vc = graft.operators.VideoCorpus
      val corpus = Stored.cached(tbl(s, dir, "documents")
        .select(col("doc_id"), vc.bytesCol(col("doc_id")).as("bytes")))
      val frames = Stored.cached(graft.operators.VideoOps
        .frames(corpus, "doc_id", "bytes", everyN = vc.SampleEvery))
      val dec = Stored.cached(frames
        .select(col("doc_id"), col("fidx"), col("frame"),
          graft.operators.MediaOps.dHash(col("frame")).as("dhash"))
        .where(col("dhash").isNotNull))
      val cuts = graft.operators.VideoOps
        .sceneCuts(dec, "doc_id", "fidx", "dhash", threshold = vc.CutThreshold)
      val sigs = Stored.cached(graft.operators.VideoOps
        .bitMajoritySignature(dec, "doc_id", "dhash"))
      val pairs = graft.operators.VideoOps
        .videoNearDupPairs(sigs, "doc_id", "signature", maxHamming = 6)
      val keyframe = dec
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("fidx"))))
        .where(col("_rn") === 1)
        .select(col("doc_id"),
          graft.operators.MediaOps.colorHistogramCol(col("frame")).as("emb"))
      val storePath = java.nio.file.Files
        .createTempDirectory("graft_video_store").toString
      val store = new graft.sources.ParquetVectorStore(storePath)
      store.append(graft.sources.DocRead.fromDataFrame(
        keyframe.select(col("doc_id").cast("string").as("id"),
          col("emb").as("embedding")),
        Some("id"), None))
      val r0 = corpus.agg(count(lit(1)).as("n_units"))
        .select(lit("00_corpus").as("stage"), col("n_units"), lit(0L).as("aux"))
      val r1 = frames.agg(count(lit(1)).as("n_units"),
          count_distinct(col("doc_id")).as("aux"))
        .select(lit("01_frames").as("stage"), col("n_units"), col("aux"))
      val r2 = dec.agg(count(lit(1)).as("n_units"),
          count_distinct(col("dhash")).as("aux"))
        .select(lit("02_decode").as("stage"), col("n_units"), col("aux"))
      val r3 = cuts.agg(
          coalesce(sum(col("is_cut")), lit(0L)).as("n_units"),
          coalesce(sum(col("hamming").cast("long")), lit(0L)).as("aux"))
        .select(lit("03_scenes").as("stage"), col("n_units"), col("aux"))
      val r4 = sigs.agg(count(lit(1)).as("n_units"),
          count_distinct(col("signature")).as("aux"))
        .select(lit("04_signature").as("stage"), col("n_units"), col("aux"))
      val r5 = pairs.agg(count(lit(1)).as("n_units"),
          coalesce(sum(col("hamming").cast("long")), lit(0L)).as("aux"))
        .select(lit("05_neardup").as("stage"), col("n_units"), col("aux"))
      val r6 = store.read(s).agg(count(lit(1)).as("n_units"))
        .select(lit("06_store").as("stage"), col("n_units"), lit(0L).as("aux"))
      r0.unionAll(r1).unionAll(r2).unionAll(r3).unionAll(r4).unionAll(r5)
        .unionAll(r6)
        .select(col("stage"), col("n_units").cast("long"), col("aux").cast("long"))
        .orderBy(col("stage"))
    }),

    "q_stream_e2e" -> ((s, dir) => {
      // Structured Streaming end-to-end, ORACLED — the streaming-equals-
      // batch identity made a hash gate (streaming was the last unit-only
      // §2 family). The events table is re-written as an 8-file corpus and
      // re-read as a REAL file-source stream in 2-file micro-batches under
      // Trigger.AvailableNow, through three streaming queries: a tumbling
      // event-time window aggregation (complete mode), streaming
      // first-seen dedup (dropDuplicates state across batches, append
      // mode), and an exactly-once checkpointed parquet sink. Every stage
      // checksum is INVARIANT to the micro-batch split by construction
      // (complete-mode aggs converge to the batch answer; per-key
      // first-seen emits exactly one row per key whatever the batch
      // boundaries; the file sink commits each batch exactly once) — so
      // DuckDB replays the identical numbers from plain batch SQL.
      // Watermark EVICTION is deliberately absent here: late-drop under an
      // unordered file split is batch-order-dependent, the one thing a
      // hash gate cannot carry (eviction semantics are pinned by
      // StreamingSpec instead).
      import org.apache.spark.sql.streaming.Trigger
      val ev = events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val tmpIn = java.nio.file.Files.createTempDirectory("graft_stream_in").toString
      ev.repartition(8).write.mode("overwrite").parquet(tmpIn)
      val schema = s.read.parquet(tmpIn).schema
      // the streams, their memory sinks and the reads of those sinks all
      // run on a session of their own (streamSession)
      val ss = streamSession(s)
      def src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2").parquet(tmpIn)
      val tag = java.lang.Long.toHexString(System.nanoTime())
      val outDir = java.nio.file.Files.createTempDirectory("graft_stream_out").toString
      // the three queries are independent streams over the same files —
      // start all three and await all three (wall time ~ the slowest one,
      // not the sum; each keeps its own state, checkpoint, and sink)
      val q1 = src
        .withColumn("ets", timestamp_micros(expr("ts div 1000")))
        .groupBy(window(col("ets"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(s"gs_win_$tag")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      val q2 = src.dropDuplicates("user_id")
        .writeStream.format("memory").queryName(s"gs_dd_$tag")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      val q3 = src.where(col("event_type") === "click")
        .writeStream.format("parquet").option("path", s"$outDir/data")
        .option("checkpointLocation", s"$outDir/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q1.awaitTermination(); q2.awaitTermination(); q3.awaitTermination()
      val wins = ss.table(s"gs_win_$tag")
        .select(expr("unix_micros(window.start) div 3600000000").as("h"),
          col("event_type"), col("n"))
      val dd = ss.table(s"gs_dd_$tag")
      val sunk = ss.read.parquet(s"$outDir/data")
      val r0 = wins.agg(coalesce(sum(col("n")), lit(0L)).as("n_units"),
          count_distinct(col("event_type")).as("aux"))
        .select(lit("00_ingest").as("stage"), col("n_units"), col("aux"))
      val r1 = wins.agg(count(lit(1)).as("n_units"),
          coalesce(sum(col("h") * col("n")), lit(0L)).as("aux"))
        .select(lit("01_windows").as("stage"), col("n_units"), col("aux"))
      val r2 = dd.agg(count(lit(1)).as("n_units"),
          coalesce(sum(col("user_id")), lit(0L)).as("aux"))
        .select(lit("02_dedup").as("stage"), col("n_units"), col("aux"))
      val r3 = sunk.agg(count(lit(1)).as("n_units"),
          coalesce(sum(col("user_id")), lit(0L)).as("aux"))
        .select(lit("03_sink").as("stage"), col("n_units"), col("aux"))
      // 4 rows, stored to detach them from the temp views and sink files
      // the cleanup below removes
      val res = Stored.now(r0.unionAll(r1).unionAll(r2).unionAll(r3)
        .select(col("stage"), col("n_units").cast("long"), col("aux").cast("long"))
        .orderBy(col("stage")))
      ss.catalog.dropTempView(s"gs_win_$tag")
      ss.catalog.dropTempView(s"gs_dd_$tag")
      rmTree(java.nio.file.Paths.get(tmpIn))
      rmTree(java.nio.file.Paths.get(outDir))
      res
    }),

    "q_stream_eviction" -> ((s, dir) => {
      // Watermark EVICTION, hash-gated via ORDERED REPLAY — the one
      // streaming semantic q_stream_e2e deliberately leaves out (late-drop
      // under an unordered file split is batch-order-dependent). Here the
      // batch order is pinned: one file per micro-batch (maxFilesPerTrigger
      // = 1), file b's mtime strictly increasing, so micro-batch b = file b.
      // Event times are synthesized from event_id arithmetic — batch b's
      // on-time rows live in hour b; kind 0 rows are FAR-late (hour b-6 —
      // their window is evicted two batches BEFORE they arrive → DROPPED),
      // kind 1 rows are NEAR-late (hour b-1, within the 90-minute delay →
      // still in state → kept). Spark's mechanics — wm(b) = max event time
      // over batches < b minus delay; an input row is dropped iff its
      // window end <= wm(b); append mode emits a window iff its end <= the
      // final wm — replay exactly in DuckDB over the same arithmetic. Two
      // hazards the construction dodges: a late row landing in the SAME
      // batch that first evicts its window is merged-then-evicted, not
      // dropped (verified empirically — hence 6 hours late, never 4), and
      // every comparison sits >600 s from a window boundary so
      // strict-vs-inclusive cannot flip a row.
      import org.apache.spark.sql.streaming.Trigger
      // nb = 8 (was 12): the construction needs batch >= 6 only for the
      // far-late arm, so 8 batches keep both late arms while shedding a
      // third of the sequential micro-batch scheduling floor (VERDICT r16
      // wrong-item #1 — the most expensive gate in the suite was harness
      // cost, not semantics)
      val nb = 8
      val base = events(s, dir).select(col("event_id"), col("event_type"))
        .withColumn("batch", col("event_id") % nb)
        .withColumn("effb",
          when(col("event_id") % 5 === 0 && col("batch") >= 6, col("batch") - 6)
            .when(col("event_id") % 5 === 1 && col("batch") >= 2, col("batch") - 1)
            .otherwise(col("batch")))
        .withColumn("ets_sec",
          lit(1700000000L) + col("effb") * 3600L +
            (col("event_id") % 7) * 60L + col("event_id") % 13)
        .select(col("event_id"), col("event_type"), col("batch"),
          timestamp_seconds(col("ets_sec")).as("ets"))
      val inDir = java.nio.file.Files.createTempDirectory("graft_evict_in")
      val mtime0 = 1700000000000L
      // ONE partitioned write (vs nb sequential repartition(1) jobs — the
      // corpus build is setup, not the semantics under test); each batch
      // lands as a single file because batch is the partition column
      val tmp = java.nio.file.Files.createTempDirectory("graft_evict_tmp")
      base.repartition(nb, col("batch"))
        .write.mode("overwrite").partitionBy("batch").parquet(tmp.toString)
      (0 until nb).foreach { b =>
        val bd = tmp.resolve(s"batch=$b")
        val part = {
          val ls = java.nio.file.Files.list(bd)
          try ls.iterator().asScala
            .find(_.getFileName.toString.startsWith("part-"))
            .getOrElse(throw new IllegalStateException(
              s"no part file for batch $b under $bd"))
          finally ls.close()
        }
        val dst = inDir.resolve(f"batch$b%02d.parquet")
        java.nio.file.Files.move(part, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(mtime0 + b * 10000L))
      }
      rmTree(tmp)
      val schema = s.read.parquet(inDir.toString).schema
      val tag = java.lang.Long.toHexString(System.nanoTime())
      // state-store sizing — see streamSession: this stream's stateful
      // keys are ~10 hour-windows; the result is partition-count-invariant
      // (watermark = global max over prior batches)
      val ss = streamSession(s)
      val q = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
        .withWatermark("ets", "90 minutes")
        .groupBy(window(col("ets"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("checksum"))
        .writeStream.format("memory").queryName(s"gs_ev_$tag")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = Stored.now(ss.table(s"gs_ev_$tag")
        .select(expr("unix_seconds(window.start) div 3600").as("h"),
          col("event_type"), col("n").cast("long"),
          col("checksum").cast("long"))
        .orderBy(col("h"), col("event_type")))
      ss.catalog.dropTempView(s"gs_ev_$tag")
      rmTree(inDir)
      out
    })
  )

  // ---------------------------------------------------------- oracle SQL

  /** DuckDB replay of the integer fixed-point PageRank: one chained CTE per
    * round (recursive CTEs cannot re-aggregate per step). All math is
    * BIGINT `//` division, so it matches the engine bit for bit. With
    * `seeds`, replays the PERSONALIZED variant: teleport mass and the
    * initial score land only on the seed set. */
  private def pageRankOracleSql(iters: Int, seeds: Seq[Long] = Nil): String = {
    val (s0, baseOf) =
      if (seeds.isEmpty)
        ("CAST(1000000 AS BIGINT)", (m: String) => s"(15000000 + 85 * $m)")
      else {
        val in = seeds.mkString("(", ", ", ")")
        (s"CAST(CASE WHEN v IN $in THEN 1000000 ELSE 0 END AS BIGINT)",
          (m: String) => s"(CASE WHEN n.v IN $in THEN 15000000 ELSE 0 END + 85 * $m)")
      }
    val head =
      s"""WITH e AS (SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS d
                    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         n AS (SELECT s AS v FROM e UNION SELECT d FROM e),
         deg AS (SELECT s, CAST(count(*) AS BIGINT) AS dg FROM e GROUP BY s),
         s0 AS (SELECT v, $s0 AS sc FROM n)"""
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) "s0" else s"i${i - 1}"
      s""",
         i$i AS (SELECT n.v, CAST(${baseOf("COALESCE(t.m, 0)")} // 100 AS BIGINT) AS sc
                 FROM n LEFT JOIN (SELECT e.d AS v, CAST(sum($prev.sc // deg.dg) AS BIGINT) AS m
                                   FROM e JOIN $prev ON e.s = $prev.v
                                          JOIN deg ON e.s = deg.s
                                   GROUP BY e.d) t ON n.v = t.v)"""
    }.mkString
    head + rounds +
      s"""
         SELECT v AS node, sc AS score FROM i$iters ORDER BY score DESC, node"""
  }

  /** DuckDB replay of the bounded-round k-core peel: one CTE triple per
    * round (degree count → keep set → edge restriction), the pageRank
    * chained-CTE pattern. Edge list = the minSupport-30 supplier
    * co-occurrence graph (shared with q_clustering_coeff). */
  /** Shared inputs of the retrieval-eval gates: brute-force cosine ranking
    * of 8 anchor queries over the embeddings table (the "retriever") and
    * the same-label ground truth. */
  /** Deterministic per-query lexical terms for q_retrieval_e2e: the 3
    * lexicographically-smallest distinct tokens of length >= 6 in the
    * query doc's text (first token as fallback). Derived ONCE driver-side
    * and shared VERBATIM by the Spark arm and the oracle literals — no
    * cross-engine tokenizer twin involved. Bounded: 8 rows. */
  private def retrievalQueryTerms(s: SparkSession, dir: String): Seq[(Long, Seq[String])] =
    tbl(s, dir, "documents").where(col("doc_id") < 8)
      .select(col("doc_id"), col("text")).collect()
      .sortBy(_.getLong(0))
      .map { r =>
        val toks = r.getString(1).trim.toLowerCase.split("\\s+").toSeq
          .filter(_.nonEmpty)
        val ts = toks.filter(_.length >= 6).distinct.sorted.take(3)
        (r.getLong(0), if (ts.nonEmpty) ts else toks.take(1))
      }.toSeq

  /** DuckDB replay of the q_retrieval_e2e chain: BM25 generalized to a
    * TERMS literal table (same formula as the q_bm25 oracle — tf=0 terms
    * contribute 0 to the sum), the q_ann_ivf replay parameterized over the
    * 8 query vectors, grouped RRF as per-query row_number ranks, and DCG
    * mass from the literalized micro weight table. Every ranking orders by
    * (rounded score, doc_id), mirroring the engine. */
  private def retrievalE2eOracleSql(spark: SparkSession, sfDir: String): String = {
    val qt = retrievalQueryTerms(spark, sfDir)
    val termRows = qt.flatMap { case (q, ts) =>
      ts.map(t => s"($q, '${t.replace("'", "''")}')")
    }
    val wRows = graft.eval.RetrievalEval.dcgWeightsMicro(5).zipWithIndex
      .map { case (v, i) => s"(${i + 1}, $v)" }
    val nTerms = qt.map(_._2.size).sum
    s"""WITH terms(query_id, term) AS (VALUES ${termRows.mkString(", ")}),
       dcgw(rank, w) AS (VALUES ${wRows.mkString(", ")}),
       t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+') AS toks
             FROM documents),
       base AS (SELECT doc_id, toks, len(toks) AS dl FROM t),
       n_ AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl FROM base),
       dterms AS (SELECT DISTINCT term FROM terms),
       tfd AS (SELECT dt.term, b.doc_id,
                      CAST(len(list_filter(b.toks, x -> x = dt.term)) AS DOUBLE) AS tf,
                      CAST(b.dl AS DOUBLE) AS dl
               FROM base b CROSS JOIN dterms dt),
       df AS (SELECT term, CAST(sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df
              FROM tfd GROUP BY term),
       bm AS (SELECT tm.query_id, tfd.doc_id,
                     floor((sum(ln(1.0 + (n_.n - df.df + 0.5) / (df.df + 0.5))
                       * tfd.tf * 2.2
                       / (tfd.tf + 1.2 * (0.25 + 0.75 * tfd.dl / (n_.sumdl / n_.n))))) * 1000000.0 + 0.5) / 1000000.0 AS score
              FROM terms tm
              JOIN tfd ON tm.term = tfd.term
              JOIN df ON tfd.term = df.term, n_
              GROUP BY tm.query_id, tfd.doc_id),
       lex AS (SELECT * FROM (
                 SELECT query_id, doc_id, score,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY score DESC, doc_id) AS rn
                 FROM bm) WHERE rn <= 10),
       qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
              FROM embeddings WHERE vec_id < 8),
       c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < 16),
       probe AS (SELECT * FROM (
                   SELECT q.query_id, c.cid,
                          row_number() OVER (PARTITION BY q.query_id
                            ORDER BY list_cosine_similarity(c.cv, q.qvec) DESC, c.cid) AS rn
                   FROM c CROSS JOIN qv q) WHERE rn <= 4),
       assign AS (SELECT e.vec_id,
                         min(struct_pack(d := list_distance(e.embedding::DOUBLE[], c.cv),
                                         cid := c.cid)) AS best
                  FROM embeddings e CROSS JOIN c GROUP BY e.vec_id),
       vec AS (SELECT * FROM (
                 SELECT q.query_id, e.vec_id AS doc_id,
                        floor((list_cosine_similarity(e.embedding::DOUBLE[], q.qvec)) * 1000000.0 + 0.5) / 1000000.0 AS score,
                        row_number() OVER (PARTITION BY q.query_id
                          ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) DESC,
                                   e.vec_id) AS rn
                 FROM embeddings e
                 JOIN assign a ON e.vec_id = a.vec_id
                 CROSS JOIN qv q
                 JOIN probe p ON p.query_id = q.query_id AND p.cid = a.best.cid)
               WHERE rn <= 10),
       lexr AS (SELECT query_id, doc_id,
                       1.0 / (60 + row_number() OVER (PARTITION BY query_id
                         ORDER BY score DESC, doc_id)) AS r0
                FROM lex),
       vecr AS (SELECT query_id, doc_id,
                       1.0 / (60 + row_number() OVER (PARTITION BY query_id
                         ORDER BY score DESC, doc_id)) AS r1
                FROM vec),
       fused AS (SELECT COALESCE(l.query_id, v.query_id) AS query_id,
                        COALESCE(l.doc_id, v.doc_id) AS doc_id,
                        floor((COALESCE(l.r0, 0) + COALESCE(v.r1, 0)) * 1000000.0 + 0.5) / 1000000.0 AS rrf
                 FROM lexr l FULL JOIN vecr v
                   ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
       ftop AS (SELECT * FROM (
                  SELECT query_id, doc_id,
                         row_number() OVER (PARTITION BY query_id
                           ORDER BY rrf DESC, doc_id) AS rank
                  FROM fused) WHERE rank <= 10),
       rel AS (SELECT DISTINCT a.vec_id AS query_id, e.vec_id AS doc_id
               FROM embeddings e JOIN embeddings a
                 ON e.label = a.label AND a.vec_id < 8),
       dcg AS (SELECT f.query_id, CAST(sum(d.w) AS BIGINT) AS dcg_micro
               FROM ftop f
               JOIN rel r ON f.query_id = r.query_id AND f.doc_id = r.doc_id
               JOIN dcgw d ON f.rank = d.rank
               WHERE f.rank <= 5 GROUP BY 1)
       SELECT stage, n_units, aux FROM (
         SELECT '00_queries' AS stage, CAST(${qt.size} AS BIGINT) AS n_units,
                CAST($nTerms AS BIGINT) AS aux
         UNION ALL SELECT '01_lexical', (SELECT CAST(count(*) AS BIGINT) FROM lex),
                (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM lex)
         UNION ALL SELECT '02_vector', (SELECT CAST(count(*) AS BIGINT) FROM vec),
                (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM vec)
         UNION ALL SELECT '03_fused', (SELECT CAST(count(*) AS BIGINT) FROM ftop),
                (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM ftop)
         UNION ALL SELECT '04_eval',
                (SELECT CAST(count(DISTINCT query_id) AS BIGINT) FROM rel),
                (SELECT CAST(COALESCE(sum(dcg_micro), 0) AS BIGINT) FROM dcg)
       ) ORDER BY stage"""
  }

  private def retrievalInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val emb = tbl(s, dir, "embeddings")
    val anchors = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"), col("label").as("qlbl"))
    val cands = emb.select(col("vec_id").as("doc_id"),
      col("embedding").cast("array<double>").as("cv"), col("label").as("clbl"))
    val scored = Stored.once(cands.crossJoin(broadcast(anchors))
      .select(col("query_id"), col("doc_id"), col("qlbl"), col("clbl"),
        graft.functions.gf.roundHalfUp(gf.cosineSimilarity(col("qv"), col("cv")), 6).as("cos")))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("doc_id"))
    val retrieved = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 10)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val relevant = scored.where(col("qlbl") === col("clbl"))
      .select(col("query_id"), col("doc_id"))
    (retrieved, relevant)
  }

  /** Deterministic generated/reference answer pairs for the ROUGE/F1
    * gates: overlapping token windows of each document. */
  private def rougeAnswers(s: SparkSession, dir: String): DataFrame = {
    val toks = filter(gf.tokens(col("text")), x => length(x) > 0)
    tbl(s, dir, "documents").select(col("doc_id").as("query_id"),
      array_join(slice(toks, 1, 10), " ").as("generated"),
      array_join(slice(toks, 3, 12), " ").as("reference"))
  }

  /** q_robots fixture: specific group beats `*`, longest prefix wins,
    * Allow beats Disallow on ties, `/private` (no slash) falls through. */
  private val RobotsFixture: String =
    """# crawl policy
      |User-agent: graftbot
      |Disallow: /private/
      |Allow: /private/press/
      |Disallow: /tmp
      |Crawl-delay: 2
      |
      |User-agent: *
      |Disallow: /
      |""".stripMargin

  private def robotsPathCol(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(id % 5 === 0, concat(lit("/private/press/item"), id))
      .when(id % 5 === 1, concat(lit("/private/doc"), id))
      .when(id % 5 === 2, concat(lit("/tmp/cache"), id))
      .when(id % 5 === 3, concat(lit("/public/page"), id))
      .otherwise(concat(lit("/private"), id))

  /** q_label_prop oracle: the identical synchronous rounds as a finite
    * MATERIALIZED CTE chain (the kCoreOracleSql pattern — each l_i is
    * referenced twice by round i+1). */
  private def labelPropOracleSql(rounds: Int, minSupport: Int, seedMod: Int): String = {
    val head =
      s"""WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_suppkey AS i FROM lineitem),
         p AS MATERIALIZED (
                SELECT x.i AS a, y.i AS b FROM bi x JOIN bi y ON x.bk = y.bk AND x.i < y.i
                GROUP BY 1, 2 HAVING count(*) >= $minSupport),
         e AS MATERIALIZED (SELECT a AS s, b AS d FROM p UNION SELECT b, a FROM p),
         l0 AS MATERIALIZED (
                SELECT v AS n, v AS l
                FROM (SELECT a AS v FROM p UNION SELECT b FROM p)
                WHERE v % $seedMod = 0)"""
    val spread = (1 to rounds).map { i =>
      s""",
         l$i AS MATERIALIZED (
                SELECT n, min(l) AS l FROM (
                  SELECT n, l FROM l${i - 1}
                  UNION ALL
                  SELECT e.d AS n, l${i - 1}.l AS l
                  FROM e JOIN l${i - 1} ON e.s = l${i - 1}.n)
                GROUP BY n)"""
    }.mkString
    head + spread +
      s"""
         SELECT CAST(n AS BIGINT) AS node, CAST(l AS BIGINT) AS label
         FROM l$rounds ORDER BY node"""
  }

  /** q_benford oracle: same decimal-string leading digit, exact counts,
    * and the SAME driver-quantized Benford micro-proportion literals
    * (Checks.BenfordMicros) — no engine evaluates a log10. */
  private def benfordOracleSql: String = {
    val values = graft.operators.Checks.BenfordMicros.zipWithIndex
      .map { case (m, i) => s"(${i + 1}, $m)" }
      .mkString(", ")
    s"""WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
                   WHERE CAST(round(o_totalprice * 100) AS BIGINT) >= 1),
        c AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER) AS digit,
                     CAST(count(*) AS BIGINT) AS n
              FROM v GROUP BY 1),
        d AS (SELECT * FROM (VALUES $values) AS t(digit, expected_micros)),
        tot AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS total FROM c)
        SELECT d.digit, CAST(coalesce(c.n, 0) AS BIGINT) AS n,
               CAST(d.expected_micros AS BIGINT) AS expected_micros,
               CAST(abs(coalesce(c.n, 0) * 1000000 - tot.total * d.expected_micros)
                 AS BIGINT) AS dev_num
        FROM d LEFT JOIN c USING (digit) CROSS JOIN tot ORDER BY d.digit"""
  }

  /** Shared inputs of the record-linkage gates: the clean customer frame,
    * its deterministic dirty twin (every 3rd nation bumped, 5th segment
    * tagged, 7th balance shifted $100), and the candidate pairs
    * (true pair + next-key impostor). */
  private def linkageInputs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val c = tbl(s, dir, "customer")
    val clean = c.select(col("c_custkey").as("l_key"),
      col("c_nationkey").as("l_nation"),
      col("c_mktsegment").as("l_segment"),
      cents(col("c_acctbal")).as("l_bal_c"))
    val dirty = c.select(col("c_custkey").as("r_key"),
      (col("c_nationkey") + when(col("c_custkey") % 3 === 0, 1).otherwise(0))
        .as("r_nation"),
      when(col("c_custkey") % 5 === 0, concat(col("c_mktsegment"), lit("_X")))
        .otherwise(col("c_mktsegment")).as("r_segment"),
      (cents(col("c_acctbal"))
        + when(col("c_custkey") % 7 === 0, 10000L).otherwise(0L)).as("r_bal_c"))
    val pairs = clean.join(dirty, col("l_key") === col("r_key"))
      .unionAll(clean.join(dirty, col("l_key") + 1 === col("r_key")))
    (clean, dirty, pairs)
  }

  private def linkageFields: Seq[graft.operators.Linkage.Field] = Seq(
    graft.operators.Linkage.Field("nation",
      col("l_nation") === col("r_nation"), 0.95, 0.04),
    graft.operators.Linkage.Field("segment",
      col("l_segment") === col("r_segment"), 0.90, 0.20),
    graft.operators.Linkage.Field("balance",
      abs(col("l_bal_c") - col("r_bal_c")) <= 50L, 0.98, 0.01))

  /** q_record_linkage oracle: same dirty-twin construction and candidate
    * pairs; the milli-bit field weights come from the SAME
    * Linkage.milliBits quantization the engine uses, interpolated as
    * integer literals — no engine evaluates a log. */
  private def linkageOracleSql: String = {
    val (nA, nD) = graft.operators.Linkage.milliBits(0.95, 0.04)
    val (sA, sD) = graft.operators.Linkage.milliBits(0.90, 0.20)
    val (bA, bD) = graft.operators.Linkage.milliBits(0.98, 0.01)
    s"""WITH clean AS (SELECT c_custkey AS l_key, c_nationkey AS l_nation,
                         c_mktsegment AS l_segment,
                         CAST(round(c_acctbal * 100) AS BIGINT) AS l_bal_c
                       FROM customer),
        dirty AS (SELECT c_custkey AS r_key,
                    c_nationkey + CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS r_nation,
                    CASE WHEN c_custkey % 5 = 0 THEN c_mktsegment || '_X'
                         ELSE c_mktsegment END AS r_segment,
                    CAST(round(c_acctbal * 100) AS BIGINT)
                      + CASE WHEN c_custkey % 7 = 0 THEN 10000 ELSE 0 END AS r_bal_c
                  FROM customer),
        p AS (SELECT l_key, r_key, l_nation, r_nation, l_segment, r_segment,
                     l_bal_c, r_bal_c
              FROM clean JOIN dirty ON l_key = r_key
              UNION ALL
              SELECT l_key, r_key, l_nation, r_nation, l_segment, r_segment,
                     l_bal_c, r_bal_c
              FROM clean JOIN dirty ON l_key + 1 = r_key),
        w AS (SELECT l_key, r_key,
                CAST(CASE WHEN l_nation = r_nation THEN $nA ELSE $nD END
                   + CASE WHEN l_segment = r_segment THEN $sA ELSE $sD END
                   + CASE WHEN abs(l_bal_c - r_bal_c) <= 50 THEN $bA ELSE $bD END
                  AS BIGINT) AS weight_mb
              FROM p)
        SELECT l_key, r_key, weight_mb,
               CASE WHEN weight_mb >= 5000 THEN 'match'
                    WHEN weight_mb <= 0 THEN 'nonmatch'
                    ELSE 'possible' END AS decision
        FROM w ORDER BY l_key, r_key"""
  }

  /** q_er_e2e oracle: the linkage chain (same dirty twin, pairs, and
    * milli-bit weights), then EXACT transitive closure of the match
    * edges via WITH RECURSIVE (the q_dedup_cc pattern) and the
    * survivorship rollup. */
  private def erOracleSql: String = {
    val (nA, nD) = graft.operators.Linkage.milliBits(0.95, 0.04)
    val (sA, sD) = graft.operators.Linkage.milliBits(0.90, 0.20)
    val (bA, bD) = graft.operators.Linkage.milliBits(0.98, 0.01)
    s"""WITH RECURSIVE
        clean AS (SELECT c_custkey AS l_key, c_nationkey AS l_nation,
                    c_mktsegment AS l_segment,
                    CAST(round(c_acctbal * 100) AS BIGINT) AS l_bal_c
                  FROM customer),
        dirty AS (SELECT c_custkey AS r_key,
                    c_nationkey + CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS r_nation,
                    CASE WHEN c_custkey % 5 = 0 THEN c_mktsegment || '_X'
                         ELSE c_mktsegment END AS r_segment,
                    CAST(round(c_acctbal * 100) AS BIGINT)
                      + CASE WHEN c_custkey % 7 = 0 THEN 10000 ELSE 0 END AS r_bal_c
                  FROM customer),
        p AS (SELECT l_key, r_key, l_nation, r_nation, l_segment, r_segment,
                     l_bal_c, r_bal_c
              FROM clean JOIN dirty ON l_key = r_key
              UNION ALL
              SELECT l_key, r_key, l_nation, r_nation, l_segment, r_segment,
                     l_bal_c, r_bal_c
              FROM clean JOIN dirty ON l_key + 1 = r_key),
        m AS (SELECT l_key * 2 AS u, r_key * 2 + 1 AS v FROM p
              WHERE CASE WHEN l_nation = r_nation THEN $nA ELSE $nD END
                  + CASE WHEN l_segment = r_segment THEN $sA ELSE $sD END
                  + CASE WHEN abs(l_bal_c - r_bal_c) <= 50 THEN $bA ELSE $bD END
                  >= 5000),
        edges AS (SELECT u, v FROM m UNION ALL SELECT v, u FROM m),
        reach(u, v) AS (
          SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges)
          UNION
          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        comp AS (SELECT u AS id, min(v) AS component FROM reach GROUP BY u),
        attrs AS (SELECT l_key * 2 AS id, l_bal_c AS bal_c FROM clean
                  UNION ALL SELECT r_key * 2 + 1, r_bal_c FROM dirty)
        SELECT CAST(component AS BIGINT) AS component,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(max(bal_c) AS BIGINT) AS best_bal_c
        FROM comp JOIN attrs USING (id)
        GROUP BY component ORDER BY component"""
  }

  /** q_modularity oracle: the label-prop coloring (same CTE chain), with
    * uncolored nodes coalesced to singleton labels, rolled up into exact
    * per-community modularity numerators. q_num is computed in HUGEINT and
    * emitted as BIGINT to match the gate query — DECIMAL(38,0) round-trips
    * through parquet as fixed-len binary and hashed differently from
    * DuckDB's HUGEINT->DECIMAL path in the driver (r10/r11 hash-red). */
  private def modularityOracleSql(rounds: Int, minSupport: Int, seedMod: Int): String = {
    val head =
      s"""WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_suppkey AS i FROM lineitem),
         p AS MATERIALIZED (
                SELECT x.i AS a, y.i AS b FROM bi x JOIN bi y ON x.bk = y.bk AND x.i < y.i
                GROUP BY 1, 2 HAVING count(*) >= $minSupport),
         e AS MATERIALIZED (SELECT a AS s, b AS d FROM p UNION SELECT b, a FROM p),
         l0 AS MATERIALIZED (
                SELECT v AS n, v AS l
                FROM (SELECT a AS v FROM p UNION SELECT b FROM p)
                WHERE v % $seedMod = 0)"""
    val spread = (1 to rounds).map { i =>
      s""",
         l$i AS MATERIALIZED (
                SELECT n, min(l) AS l FROM (
                  SELECT n, l FROM l${i - 1}
                  UNION ALL
                  SELECT e.d AS n, l${i - 1}.l AS l
                  FROM e JOIN l${i - 1} ON e.s = l${i - 1}.n)
                GROUP BY n)"""
    }.mkString
    head + spread +
      s""",
         nodes AS (SELECT a AS v FROM p UNION SELECT b FROM p),
         lab AS MATERIALIZED (
                SELECT nodes.v AS n, coalesce(l$rounds.l, nodes.v) AS l
                FROM nodes LEFT JOIN l$rounds ON nodes.v = l$rounds.n),
         mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM p),
         intra AS (SELECT la.l AS lbl, CAST(count(*) AS BIGINT) AS ie
                   FROM p JOIN lab la ON p.a = la.n JOIN lab lb ON p.b = lb.n
                   WHERE la.l = lb.l GROUP BY 1),
         deg AS (SELECT v, count(*) AS c FROM (
                   SELECT a AS v FROM p UNION ALL SELECT b FROM p) GROUP BY v),
         ds AS (SELECT lab.l AS lbl, CAST(count(*) AS BIGINT) AS n_nodes,
                       CAST(sum(coalesce(deg.c, 0)) AS BIGINT) AS dsum
                FROM lab LEFT JOIN deg ON lab.n = deg.v GROUP BY 1)
         SELECT CAST(ds.lbl AS BIGINT) AS label, ds.n_nodes,
                CAST(coalesce(intra.ie, 0) AS BIGINT) AS intra_edges,
                ds.dsum AS degree_sum,
                CAST(4 * mm.m * coalesce(intra.ie, 0)
                     - CAST(ds.dsum AS HUGEINT) * ds.dsum AS BIGINT) AS q_num
         FROM ds LEFT JOIN intra ON ds.lbl = intra.lbl CROSS JOIN mm
         ORDER BY label"""
  }

  /** q_graph_e2e replay: the kCoreOracleSql peel chain, then triangle
    * census / recursive min-reach components / integer modularity all ON
    * THE CORE subgraph — each stage CTE feeds the next, verifying the
    * composition. Core/tri/comp are MATERIALIZED (multi-referenced). */
  private def graphE2eOracleSql(k: Int, rounds: Int, minSupport: Int): String = {
    val head =
      s"""WITH RECURSIVE bi AS (SELECT DISTINCT l_orderkey AS bk, l_suppkey AS i FROM lineitem),
         p0 AS MATERIALIZED (
                SELECT x.i AS a, y.i AS b FROM bi x JOIN bi y ON x.bk = y.bk AND x.i < y.i
                GROUP BY 1, 2 HAVING count(*) >= $minSupport)"""
    val peel = (1 to rounds).map { i =>
      s""",
         d$i AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM (
                   SELECT a AS v FROM p${i - 1} UNION ALL SELECT b FROM p${i - 1}) GROUP BY v),
         v$i AS MATERIALIZED (SELECT v FROM d$i WHERE c >= $k),
         p$i AS MATERIALIZED (
                 SELECT a, b FROM p${i - 1}
                 WHERE a IN (SELECT v FROM v$i) AND b IN (SELECT v FROM v$i))"""
    }.mkString
    head + peel +
      s""",
         core AS MATERIALIZED (SELECT a, b FROM p$rounds),
         tri AS MATERIALIZED (
           SELECT x.a AS a, x.b AS b, y.b AS c
           FROM core x JOIN core y ON x.b = y.a
                JOIN core z ON z.a = x.a AND z.b = y.b),
         sym AS (SELECT a AS u, b AS v FROM core
                 UNION ALL SELECT b, a FROM core),
         reach(u, v) AS (
           SELECT u, u AS v FROM (SELECT DISTINCT u FROM sym)
           UNION
           SELECT r.u, e.v FROM reach r JOIN sym e ON r.v = e.u),
         comp AS MATERIALIZED (SELECT u AS id, min(v) AS component
                               FROM reach GROUP BY u),
         m_ AS (SELECT CAST(count(*) AS BIGINT) AS m FROM core),
         deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
                   SELECT a AS v FROM core UNION ALL SELECT b FROM core) GROUP BY v),
         intra AS (SELECT ca.component AS l, CAST(count(*) AS BIGINT) AS e_c
                   FROM core JOIN comp ca ON core.a = ca.id
                        JOIN comp cb ON core.b = cb.id
                   WHERE ca.component = cb.component GROUP BY 1),
         dsum AS (SELECT comp.component AS l, CAST(count(*) AS BIGINT) AS n_nodes,
                         CAST(COALESCE(sum(deg.d), 0) AS BIGINT) AS d_c
                  FROM comp LEFT JOIN deg ON comp.id = deg.v GROUP BY 1),
         modq AS (SELECT ds.l,
                         CAST(4 * m_.m * COALESCE(i.e_c, 0) - ds.d_c * ds.d_c AS BIGINT) AS q_num
                  FROM dsum ds LEFT JOIN intra i ON ds.l = i.l, m_)
         SELECT stage, n_units, aux FROM (
           SELECT '00_edges' AS stage,
                  (SELECT CAST(count(*) AS BIGINT) FROM p0) AS n_units,
                  (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM
                    (SELECT a AS v FROM p0 UNION ALL SELECT b FROM p0)) AS aux
           UNION ALL SELECT '01_kcore',
                  (SELECT CAST(count(*) AS BIGINT) FROM core),
                  (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM
                    (SELECT a AS v FROM core UNION ALL SELECT b FROM core))
           UNION ALL SELECT '02_triangles',
                  (SELECT CAST(count(*) AS BIGINT) FROM tri),
                  (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM
                    (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
                     UNION ALL SELECT c FROM tri))
           UNION ALL SELECT '03_components',
                  (SELECT CAST(count(DISTINCT component) AS BIGINT) FROM comp),
                  (SELECT CAST(COALESCE(max(n), 0) AS BIGINT) FROM
                    (SELECT count(*) AS n FROM comp GROUP BY component))
           UNION ALL SELECT '04_modularity',
                  (SELECT CAST(count(*) AS BIGINT) FROM modq),
                  (SELECT CAST(COALESCE(sum(q_num), 0) AS BIGINT) FROM modq)
         ) ORDER BY stage"""
  }

  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    // every p_i is referenced 3× by round i+1 — inlined CTEs would expand
    // the plan 3^rounds-fold (observed as a "too many open files" parquet
    // re-scan storm), so each round is forced MATERIALIZED
    val head =
      """WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_suppkey AS i FROM lineitem),
         p0 AS MATERIALIZED (
                SELECT x.i AS a, y.i AS b FROM bi x JOIN bi y ON x.bk = y.bk AND x.i < y.i
                GROUP BY 1, 2 HAVING count(*) >= 30)"""
    val peel = (1 to rounds).map { i =>
      s""",
         d$i AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM (
                   SELECT a AS v FROM p${i - 1} UNION ALL SELECT b FROM p${i - 1}) GROUP BY v),
         v$i AS MATERIALIZED (SELECT v FROM d$i WHERE c >= $k),
         p$i AS MATERIALIZED (
                 SELECT a, b FROM p${i - 1}
                 WHERE a IN (SELECT v FROM v$i) AND b IN (SELECT v FROM v$i))"""
    }.mkString
    head + peel +
      s"""
         SELECT v AS node, CAST(count(*) AS BIGINT) AS degree FROM (
           SELECT a AS v FROM p$rounds UNION ALL SELECT b FROM p$rounds) GROUP BY v
         ORDER BY node"""
  }

  /** q_textrank oracle: the word co-occurrence graph (adjacent >=4-char
    * tokens, symmetric, deduped) fed through the IDENTICAL integer
    * fixed-point PageRank round chain as the supplier-graph oracle —
    * string-keyed nodes, floor division on nonnegative scores matches the
    * engine's truncating IntegralDivide. */
  private def textRankOracleSql(iters: Int): String = {
    val head =
      """WITH tk AS (SELECT list_filter(
                       regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                       w -> length(w) >= 4) AS ts
                     FROM documents),
         adj AS (SELECT p.a AS w1, p.b AS w2 FROM (
                   SELECT unnest(list_transform(range(1, len(ts)),
                     i -> struct_pack(a := ts[i], b := ts[i + 1]))) AS p
                   FROM tk)
                 WHERE p.a <> p.b),
         e AS MATERIALIZED (SELECT w1 AS s, w2 AS d FROM adj
                            UNION SELECT w2, w1 FROM adj),
         n AS (SELECT s AS v FROM e UNION SELECT d FROM e),
         deg AS (SELECT s, CAST(count(*) AS BIGINT) AS dg FROM e GROUP BY s),
         s0 AS (SELECT v, CAST(1000000 AS BIGINT) AS sc FROM n)"""
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) "s0" else s"i${i - 1}"
      s""",
         i$i AS MATERIALIZED (
                 SELECT n.v, CAST((15000000 + 85 * COALESCE(t.m, 0)) // 100 AS BIGINT) AS sc
                 FROM n LEFT JOIN (SELECT e.d AS v, CAST(sum($prev.sc // deg.dg) AS BIGINT) AS m
                                   FROM e JOIN $prev ON e.s = $prev.v
                                          JOIN deg ON e.s = deg.s
                                   GROUP BY e.d) t ON n.v = t.v)"""
    }.mkString
    head + rounds +
      s"""
         SELECT v AS node, sc AS score FROM i$iters ORDER BY score DESC, node"""
  }

  /** DuckDB replay of the bounded-round k-truss peel: per round one
    * canonical triangle enumeration (a<b<c via the two-hop + closing-edge
    * join), per-edge support rollup, edge restriction — each round's
    * frames forced MATERIALIZED (triangles are referenced three times by
    * the support union; inlined CTEs would re-enumerate per reference,
    * the kCore 3^rounds lesson). Edge list = the minSupport co-occurrence
    * graph shared with q_kcore/q_modularity. */
  private def kTrussOracleSql(k: Int, rounds: Int, minSupport: Int): String = {
    val head =
      s"""WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_suppkey AS i FROM lineitem),
         p0 AS MATERIALIZED (
                SELECT x.i AS a, y.i AS b FROM bi x JOIN bi y ON x.bk = y.bk AND x.i < y.i
                GROUP BY 1, 2 HAVING count(*) >= $minSupport)"""
    def triSup(i: Int, src: String) =
      s""",
         t$i AS MATERIALIZED (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM $src e1 JOIN $src e2 ON e2.a = e1.b
                JOIN $src e3 ON e3.a = e1.a AND e3.b = e2.b),
         s$i AS MATERIALIZED (
                SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM (
                  SELECT x AS a, y AS b FROM t$i
                  UNION ALL SELECT x, z FROM t$i
                  UNION ALL SELECT y, z FROM t$i) GROUP BY 1, 2)"""
    val peel = (1 to rounds).map { i =>
      triSup(i, s"p${i - 1}") +
        s""",
         p$i AS MATERIALIZED (
                SELECT p.a, p.b FROM p${i - 1} p
                JOIN s$i s ON p.a = s.a AND p.b = s.b AND s.c >= ${k - 2})"""
    }.mkString
    head + peel + triSup(rounds + 1, s"p$rounds") +
      s"""
         SELECT p.a AS a, p.b AS b, CAST(coalesce(s.c, 0) AS BIGINT) AS support
         FROM p$rounds p LEFT JOIN s${rounds + 1} s ON p.a = s.a AND p.b = s.b
         ORDER BY 1, 2"""
  }

  /** DuckDB replay of BPE ENCODING under a trained merge list. The merge
    * loop itself is a bounded driver-side sequential algorithm (no SQL
    * oracle exists for it), but it is deterministic given the corpus — so
    * the trained merges ride into the oracle as literals and the oracle
    * independently replays the DISTRIBUTED part, per-token encoding:
    * symbols as a space-delimited string, one left-to-right
    * `replace(' a b ', ' ab ')` per merge in rank order (Sennrich 2016's
    * sequential application, which agrees with the engine's rank-greedy
    * encodeWord: a merge's components are always created by earlier-rank
    * merges, so rank order IS application order). Encoding runs over the
    * DISTINCT word vocabulary, then joins counts back per document. */
  private def bpeOracleSql(merges: graft.operators.Bpe.Merges): String = {
    def esc(s: String) = s.replace("'", "''")
    val folded = merges.foldLeft("' ' || regexp_replace(w, '(.)', '\\1 ', 'g')") {
      case (acc, (a, b)) =>
        s"replace($acc, ' ${esc(a)} ${esc(b)} ', ' ${esc(a + b)} ')"
    }
    s"""WITH tok AS (SELECT doc_id, text,
                CASE WHEN length(trim(text)) = 0 THEN []
                     ELSE regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+') END AS toks
         FROM documents),
       words AS (SELECT DISTINCT unnest(toks) AS w FROM tok),
       enc AS (SELECT w, CAST(len(string_split(trim($folded), ' ')) AS BIGINT) AS n
               FROM words WHERE w <> ''),
       flat AS (SELECT doc_id, unnest(toks) AS w FROM tok),
       cnt AS (SELECT f.doc_id, CAST(sum(e.n) AS BIGINT) AS n_bpe
               FROM flat f JOIN enc e ON f.w = e.w GROUP BY f.doc_id)
       SELECT d.doc_id, CAST(COALESCE(c.n_bpe, 0) AS BIGINT) AS n_bpe,
              CAST(len(regexp_extract_all(d.text, '[a-zA-Z0-9]+|[^a-zA-Z0-9 \\t\\n\\x0b\\f\\r]')) AS BIGINT) AS n_bpeish
       FROM documents d LEFT JOIN cnt c ON d.doc_id = c.doc_id
       ORDER BY d.doc_id"""
  }

  /** Oracles whose SQL embeds values derived from the corpus (literals a
    * static map cannot carry). Verify merges these into oracle_sql.json;
    * a failure here must not sink the static oracles, so callers wrap it. */
  def oracleSqlDynamic(spark: SparkSession, sfDir: String): Map[String, String] = {
    val merges = graft.operators.Bpe.train(tbl(spark, sfDir, "documents"),
      "text", numMerges = 64)
    val (coef, icept) = qcModel(spark, sfDir)
    val tw = graft.operators.QualityClassifier.tokenWeights(
      tbl(spark, sfDir, "documents"), "text", coef)
    val dsir = dsirTable(spark, sfDir)
    val nw = graft.operators.Dsir.ngramWeights(
      tbl(spark, sfDir, "documents"), "text", dsir)
    val emb = tbl(spark, sfDir, "embeddings")
    val (mn, mx) = graft.ann.Ann.sq8Train(emb, "embedding")
    val sqq = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    Map("q_bpe_encode" -> bpeOracleSql(merges),
      "q_quality_classifier" -> qcOracleSql(tw, icept),
      "q_dsir" -> dsirOracleSql(nw, DsirK),
      "q_ann_sq8" -> sq8OracleSql(mn, mx, graft.ann.Ann.sq8EncodeVec(sqq, mn, mx)),
      "q_media_e2e" -> mediaOracleSql(spark, sfDir),
      "q_audio_e2e" -> audioOracleSql(spark, sfDir),
      "q_video_e2e" -> videoOracleSql(spark, sfDir),
      "q_retrieval_e2e" -> retrievalE2eOracleSql(spark, sfDir))
  }

  /** DuckDB replay of q_media_e2e from the literalized per-image facts
    * (fmt, dhash, bins) computed by MediaCorpus.expected — the DRIVER twin
    * of the gate's distributed generator, byte-identical by unit test.
    * Decode cannot run in DuckDB; every RELATIONAL stage (sniff counts,
    * the brute-force hamming pair set — exactly equivalent to the
    * pigeonhole join's output by the pigeonhole guarantee — bin checksums,
    * argmax buckets, store read-back count) is genuinely recomputed in
    * SQL. ORACLE-GENERATION ONLY: collects the doc_id list (gate-scale
    * bounded; the gate's own plan never collects). */
  private def mediaOracleSql(spark: SparkSession, sfDir: String): String = {
    val ids = tbl(spark, sfDir, "documents").select(col("doc_id"))
      .orderBy(col("doc_id")).collect().map(_.getLong(0))
    require(ids.length <= 200000, "media oracle is gate-scale only")
    val rows = ids.map { id =>
      val (fmt, dh, bins) = graft.operators.MediaCorpus.expected(id)
      val d = dh.map(_.toString).getOrElse("NULL")
      val b = bins.map(_.mkString("[", ", ", "]")).getOrElse("NULL")
      s"($id, '$fmt', $d, $b)"
    }
    s"""WITH media(doc_id, fmt, dhash, bins) AS (VALUES ${rows.mkString(",\n  ")}),
       img AS (SELECT * FROM media WHERE dhash IS NOT NULL),
       pairs AS (SELECT bit_count(xor(a.dhash, b.dhash)) AS h
                 FROM img a JOIN img b ON a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.dhash, b.dhash)) <= 6),
       poss AS (SELECT unnest(range(1, 65)) AS j),
       binsx AS (SELECT m.doc_id, p.j, m.bins[p.j] AS bin FROM img m, poss p),
       bkt AS (SELECT list_position(bins, list_aggregate(bins, 'max')) AS b,
                      CAST(count(*) AS BIGINT) AS n
               FROM img GROUP BY 1)
       SELECT stage, n_units, aux FROM (
         SELECT '00_corpus' AS stage,
                (SELECT CAST(count(*) AS BIGINT) FROM media) AS n_units,
                CAST(0 AS BIGINT) AS aux
         UNION ALL SELECT '01_sniff',
                (SELECT CAST(count(*) AS BIGINT) FROM media WHERE fmt <> ''),
                (SELECT CAST(count(*) AS BIGINT) FROM media WHERE fmt = '')
         UNION ALL SELECT '02_decode',
                (SELECT CAST(count(*) AS BIGINT) FROM img), CAST(0 AS BIGINT)
         UNION ALL SELECT '03_neardup',
                (SELECT CAST(count(*) AS BIGINT) FROM pairs),
                (SELECT CAST(COALESCE(sum(h), 0) AS BIGINT) FROM pairs)
         UNION ALL SELECT '04_embed',
                (SELECT CAST(count(*) AS BIGINT) FROM img),
                (SELECT CAST(COALESCE(sum(j * bin), 0) AS BIGINT) FROM binsx)
         UNION ALL SELECT '05_buckets',
                (SELECT CAST(count(*) AS BIGINT) FROM bkt),
                (SELECT CAST(COALESCE(max(n), 0) AS BIGINT) FROM bkt)
         UNION ALL SELECT '06_store',
                (SELECT CAST(count(*) AS BIGINT) FROM img), CAST(0 AS BIGINT)
       ) ORDER BY stage"""
  }

  /** DuckDB replay of q_audio_e2e from the literalized per-clip facts
    * (fmt, ahash, envelope micros) computed by AudioCorpus.expected — the
    * DRIVER twin of the gate's distributed generator, byte-identical by
    * unit test. Decode cannot run in DuckDB; every RELATIONAL stage
    * (sniff counts, the brute-force hamming pair set — equivalent to the
    * pigeonhole join's output by the pigeonhole guarantee — micro-bin
    * checksums, argmax buckets, store read-back count) is genuinely
    * recomputed in SQL. ORACLE-GENERATION ONLY: collects the doc_id list
    * (gate-scale bounded; the gate's own plan never collects). */
  private def audioOracleSql(spark: SparkSession, sfDir: String): String = {
    val ids = tbl(spark, sfDir, "documents").select(col("doc_id"))
      .orderBy(col("doc_id")).collect().map(_.getLong(0))
    require(ids.length <= 200000, "audio oracle is gate-scale only")
    val rows = ids.map { id =>
      val (fmt, ah, bins) = graft.operators.AudioCorpus.expected(id)
      val a = ah.map(_.toString).getOrElse("NULL")
      val b = bins.map(_.mkString("[", ", ", "]")).getOrElse("NULL")
      s"($id, '$fmt', $a, $b)"
    }
    s"""WITH audio(doc_id, fmt, ahash, bins) AS (VALUES ${rows.mkString(",\n  ")}),
       snd AS (SELECT * FROM audio WHERE ahash IS NOT NULL),
       pairs AS (SELECT bit_count(xor(a.ahash, b.ahash)) AS h
                 FROM snd a JOIN snd b ON a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.ahash, b.ahash)) <= 6),
       poss AS (SELECT unnest(range(1, 65)) AS j),
       binsx AS (SELECT m.doc_id, p.j, m.bins[p.j] AS bin FROM snd m, poss p),
       bkt AS (SELECT list_position(bins, list_aggregate(bins, 'max')) AS b,
                      CAST(count(*) AS BIGINT) AS n
               FROM snd GROUP BY 1)
       SELECT stage, n_units, aux FROM (
         SELECT '00_corpus' AS stage,
                (SELECT CAST(count(*) AS BIGINT) FROM audio) AS n_units,
                CAST(0 AS BIGINT) AS aux
         UNION ALL SELECT '01_sniff',
                (SELECT CAST(count(*) AS BIGINT) FROM audio WHERE fmt = 'wav'),
                (SELECT CAST(count(*) AS BIGINT) FROM audio WHERE fmt = '')
         UNION ALL SELECT '02_decode',
                (SELECT CAST(count(*) AS BIGINT) FROM snd),
                (SELECT CAST(count(DISTINCT ahash) AS BIGINT) FROM snd)
         UNION ALL SELECT '03_neardup',
                (SELECT CAST(count(*) AS BIGINT) FROM pairs),
                (SELECT CAST(COALESCE(sum(h), 0) AS BIGINT) FROM pairs)
         UNION ALL SELECT '04_embed',
                (SELECT CAST(count(*) AS BIGINT) FROM snd),
                (SELECT CAST(COALESCE(sum(j * bin), 0) AS BIGINT) FROM binsx)
         UNION ALL SELECT '05_buckets',
                (SELECT CAST(count(*) AS BIGINT) FROM bkt),
                (SELECT CAST(COALESCE(max(n), 0) AS BIGINT) FROM bkt)
         UNION ALL SELECT '06_store',
                (SELECT CAST(count(*) AS BIGINT) FROM snd), CAST(0 AS BIGINT)
       ) ORDER BY stage"""
  }

  /** DuckDB replay of q_video_e2e from the literalized per-sampled-frame
    * dHashes computed by VideoCorpus.expected — the DRIVER twin of the
    * gate's distributed generator, byte-identical by unit test, run
    * through the SAME FakeFrameSampler + MediaOps decode the engine uses.
    * Container slicing and raster decode cannot run in DuckDB; every
    * RELATIONAL stage — frame/video counts, the lag-window scene-cut scan,
    * the per-bit majority signature (HUGEINT bit sum wrapped to signed
    * BIGINT, because DuckDB's BIGINT `1 << 63` overflows), the brute-force
    * hamming pair set (equivalent to the pigeonhole join's output by the
    * pigeonhole guarantee), store read-back count — is genuinely
    * recomputed in SQL. ORACLE-GENERATION ONLY: collects the doc_id list
    * (gate-scale bounded; the gate's own plan never collects). */
  private def videoOracleSql(spark: SparkSession, sfDir: String): String = {
    val ids = tbl(spark, sfDir, "documents").select(col("doc_id"))
      .orderBy(col("doc_id")).collect().map(_.getLong(0))
    require(ids.length <= 200000, "video oracle is gate-scale only")
    val rows = ids.flatMap { id =>
      graft.operators.VideoCorpus.expected(id).map { case (fidx, dh) =>
        s"($id, $fidx, ${dh.map(_.toString).getOrElse("CAST(NULL AS BIGINT)")})"
      }
    }
    val cutT = graft.operators.VideoCorpus.CutThreshold
    s"""WITH vf(doc_id, fidx, dhash) AS (VALUES ${rows.mkString(",\n  ")}),
       dec AS (SELECT * FROM vf WHERE dhash IS NOT NULL),
       cons AS (SELECT doc_id, dhash,
                lag(dhash) OVER (PARTITION BY doc_id ORDER BY fidx) AS prev
                FROM dec),
       cut AS (SELECT bit_count(xor(dhash, prev)) AS h
               FROM cons WHERE prev IS NOT NULL),
       nd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM dec GROUP BY doc_id),
       bits AS (SELECT doc_id, p.j AS p,
                CAST((dhash >> CAST(p.j AS INTEGER)) & 1 AS BIGINT) AS b
                FROM dec, (SELECT unnest(range(0, 64)) AS j) p),
       maj AS (SELECT bits.doc_id, bits.p
               FROM bits JOIN nd USING (doc_id)
               GROUP BY bits.doc_id, bits.p, nd.n HAVING 2 * sum(b) > nd.n),
       sigsum AS (SELECT doc_id,
                  SUM(CAST(1 AS HUGEINT) << CAST(p AS INTEGER)) AS hs
                  FROM maj GROUP BY doc_id),
       sig AS (SELECT nd.doc_id,
               CAST(CASE WHEN COALESCE(s.hs, 0) >= (CAST(1 AS HUGEINT) << 63)
                    THEN COALESCE(s.hs, 0) - (CAST(1 AS HUGEINT) << 64)
                    ELSE COALESCE(s.hs, 0) END AS BIGINT) AS sg
               FROM nd LEFT JOIN sigsum s USING (doc_id)),
       pr AS (SELECT bit_count(xor(a.sg, b.sg)) AS h
              FROM sig a JOIN sig b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.sg, b.sg)) <= 6)
       SELECT stage, n_units, aux FROM (
         SELECT '00_corpus' AS stage,
                (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_units,
                CAST(0 AS BIGINT) AS aux
         UNION ALL SELECT '01_frames',
                (SELECT CAST(count(*) AS BIGINT) FROM vf),
                (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM vf)
         UNION ALL SELECT '02_decode',
                (SELECT CAST(count(*) AS BIGINT) FROM dec),
                (SELECT CAST(count(DISTINCT dhash) AS BIGINT) FROM dec)
         UNION ALL SELECT '03_scenes',
                (SELECT CAST(COALESCE(sum(CASE WHEN h > $cutT THEN 1 ELSE 0 END), 0) AS BIGINT) FROM cut),
                (SELECT CAST(COALESCE(sum(h), 0) AS BIGINT) FROM cut)
         UNION ALL SELECT '04_signature',
                (SELECT CAST(count(*) AS BIGINT) FROM sig),
                (SELECT CAST(count(DISTINCT sg) AS BIGINT) FROM sig)
         UNION ALL SELECT '05_neardup',
                (SELECT CAST(count(*) AS BIGINT) FROM pr),
                (SELECT CAST(COALESCE(sum(h), 0) AS BIGINT) FROM pr)
         UNION ALL SELECT '06_store',
                (SELECT CAST(count(*) AS BIGINT) FROM nd), CAST(0 AS BIGINT)
       ) ORDER BY stage"""
  }

  /** DuckDB replay of Ann.sq8Encode + sq8TopK: per-dim min/scale and the
    * encoded query as literals; the quantizer (floor(v+0.5), clamp) and the
    * int64 inner product are exact on both engines — IEEE −,/,· are
    * exactly rounded, and Scala's Double.toString shortest form parses back
    * to the identical double. */
  private def sq8OracleSql(mn: Array[Double], mx: Array[Double],
                           qc: Array[Long]): String = {
    val sc = mn.zip(mx).map { case (a, b) => b - a }
    def dArr(a: Array[Double]) = a.mkString("[", ", ", "]::DOUBLE[]")
    val dim = mn.length
    s"""WITH p AS (SELECT ${dArr(mn)} AS mn, ${dArr(sc)} AS sc,
                          ${qc.mkString("[", ", ", "]::BIGINT[]")} AS qc)
       SELECT vec_id, CAST(list_sum(list_transform(range(1, ${dim + 1}), i ->
                CAST(least(greatest(
                  CASE WHEN p.sc[i] = 0 THEN 0.0
                       ELSE floor((embedding[i]::DOUBLE - p.mn[i]) / p.sc[i]
                                  * 255.0 + 0.5) END,
                  0.0), 255.0) AS BIGINT) * p.qc[i])) AS BIGINT) AS sq8_dot
       FROM embeddings, p
       ORDER BY sq8_dot DESC, vec_id
       LIMIT 10"""
  }

  // DSIR importance table, memoized per sfDir for the same
  // shared-state-with-oracle reason as qcModel below.
  private val DsirK = 100
  private val dsirState =
    scala.collection.concurrent.TrieMap.empty[String, Array[Long]]
  private def dsirTable(s: SparkSession, dir: String): Array[Long] =
    dsirState.getOrElseUpdate(dir, {
      val docs = tbl(s, dir, "documents")
      graft.operators.Dsir.importanceTable(
        docs.where(col("lang") === "en"), docs, "text", numBuckets = 1 << 10)
    })

  /** DuckDB replay of Dsir.scoreMicros + selectTopK: per-n-gram quantized
    * λ as literals (hashing resolved at generation time), integer sums,
    * deterministic (weight desc, doc_id) top-k flag. */
  private def dsirOracleSql(nw: Seq[(String, Long)], k: Int): String = {
    def esc(s: String) = s.replace("'", "''")
    val values =
      if (nw.isEmpty) "('', 0)"
      else nw.map { case (ng, w) => s"('${esc(ng)}', $w)" }.mkString(", ")
    s"""WITH nw(ng, w) AS (VALUES $values),
       tt AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)),
                '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS toks FROM documents),
       uni AS (SELECT doc_id, unnest(toks) AS ng FROM tt),
       bi AS (SELECT doc_id, toks[u.i + 1] || ' ' || toks[u.i + 2] AS ng
              FROM tt, unnest(range(0, greatest(len(toks) - 1, 0))) AS u(i)),
       allng AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
       s AS (SELECT doc_id, CAST(COALESCE(SUM(w), 0) AS BIGINT) AS z
             FROM allng LEFT JOIN nw USING (ng) GROUP BY doc_id),
       f AS (SELECT d.doc_id, COALESCE(s.z, 0) AS z
             FROM documents d LEFT JOIN s USING (doc_id)),
       r AS (SELECT doc_id, z,
                    row_number() OVER (ORDER BY z DESC, doc_id) AS rn FROM f)
       SELECT doc_id, CAST(z AS BIGINT) AS dsir_micros,
              CAST(CASE WHEN rn <= $k THEN 1 ELSE 0 END AS BIGINT) AS selected
       FROM r ORDER BY doc_id"""
  }

  // quality-classifier trained state, memoized per sfDir: the gate query and
  // its dynamic oracle must be generated from the SAME weights within one
  // Verify/Bench JVM — LR training is iterative and bit-identity across two
  // independent fits is not guaranteed (training itself stays
  // declared-inherent; the gate verifies SCORING).
  private val qcState =
    scala.collection.concurrent.TrieMap.empty[String, (Array[Long], Long)]
  private def qcModel(s: SparkSession, dir: String): (Array[Long], Long) =
    qcState.getOrElseUpdate(dir, {
      val docs = tbl(s, dir, "documents")
      // weak label: a deterministic length rule — class-balanced on the
      // synthetic corpus at any SF (291/500 positives at sf0.01). Any mixed
      // labeling serves: the verified artifact is the hashed-feature margin.
      val labeled = docs.withColumn("__lbl", (col("n_chars") >= 256).cast("double"))
      val m = graft.operators.QualityClassifier.train(labeled, "text", "__lbl",
        numFeatures = 1 << 12, maxIter = 25, regParam = 1e-3)
      graft.operators.QualityClassifier.quantize(m)
    })

  /** DuckDB replay of RepetitionStatsExpr + repetitionKeep (Gopher A1.2),
    * generated from the SAME n-gram ranges and thresholds. Lines/paragraphs
    * via split + trim of the pinned char set; words via the engine-tokenizer
    * replay with row_number re-ranking; n-grams via chained lead() windows;
    * duplicate-n-gram coverage via a BETWEEN join on word positions. */
  private def repetitionOracleSql: String = {
    import graft.functions.RepetitionStatsExpr._
    val trimSet = "' ' || chr(9) || chr(11) || chr(12) || chr(13)"
    def segStats(name: String, seg: String) =
      s"""${name}seg AS (SELECT doc_id, trim(u.l, $trimSet) AS l
             FROM base, unnest($seg) AS u(l)),
         ${name}grp AS (SELECT doc_id, l, count(*) AS c, any_value(length(l)) AS ln
             FROM ${name}seg WHERE l <> '' GROUP BY doc_id, l),
         ${name}stat AS (SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS ${name}_n,
             CAST(SUM(c - 1) AS BIGINT) AS ${name}_dup,
             CAST(SUM(c * ln) AS BIGINT) AS ${name}_chars,
             CAST(SUM((c - 1) * ln) AS BIGINT) AS ${name}_dup_chars
           FROM ${name}grp GROUP BY doc_id)"""
    def gramCte(n: Int) = {
      val leads = (1 until n).map(k =>
        s"lead(w, $k) OVER win AS w$k, lead(wl, $k) OVER win AS wl$k").mkString(", ")
      val ng = (0 until n).map(k => if (k == 0) "w0" else s"w$k").mkString(" || ' ' || ")
      val nc = (0 until n).map(k => s"wl$k").mkString(" + ")
      s"""g$n AS (SELECT doc_id, i, $ng AS ng, $nc AS nc
           FROM (SELECT doc_id, i, w AS w0, wl AS wl0, $leads
                 FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY i))
           WHERE w${n - 1} IS NOT NULL)"""
    }
    def topCte(n: Int) =
      s"""t$n AS (SELECT doc_id,
               CAST(CASE WHEN c >= 2 THEN c * nc ELSE 0 END AS BIGINT)
                 AS top${n}_chars FROM (
             SELECT doc_id, ng, count(*) AS c, any_value(nc) AS nc,
                    row_number() OVER (PARTITION BY doc_id
                      ORDER BY count(*) DESC, ng ASC) AS rn
             FROM g$n GROUP BY doc_id, ng)
           WHERE rn = 1)"""
    def dupCte(n: Int) =
      s"""d$n AS (SELECT cov.doc_id, CAST(SUM(cov.wl) AS BIGINT) AS dup${n}_chars FROM (
             SELECT DISTINCT g.doc_id, ww.i, ww.wl
             FROM g$n g
             JOIN (SELECT doc_id, ng FROM g$n GROUP BY doc_id, ng
                   HAVING count(*) >= 2) dd
               ON g.doc_id = dd.doc_id AND g.ng = dd.ng
             JOIN w ww ON ww.doc_id = g.doc_id
                      AND ww.i BETWEEN g.i AND g.i + ${n - 1}
           ) cov GROUP BY cov.doc_id)"""
    val allNs = (TopNs ++ DupNs).distinct.sorted
    def z(c: String) = s"COALESCE($c, 0)"
    val metricCols =
      Seq("lin_n" -> "n_lines", "lin_dup" -> "dup_lines",
        "lin_chars" -> "line_chars", "lin_dup_chars" -> "dup_line_chars",
        "par_n" -> "n_paras", "par_dup" -> "dup_paras",
        "par_chars" -> "para_chars", "par_dup_chars" -> "dup_para_chars",
        "word_chars" -> "word_chars") ++
      TopNs.map(n => s"top${n}_chars" -> s"top${n}_chars") ++
      DupNs.map(n => s"dup${n}_chars" -> s"dup${n}_chars")
    def rule(num: String, den: String, pct: Int) =
      s"(${z(den)} = 0 OR ${z(num)} * 100 <= ${z(den)} * $pct)"
    val keepRules = Seq(
      rule("lin_dup", "lin_n", LineFracPct),
      rule("par_dup", "par_n", LineFracPct),
      rule("lin_dup_chars", "lin_chars", LineCharFracPct),
      rule("par_dup_chars", "par_chars", LineCharFracPct)) ++
      TopNs.map(n => rule(s"top${n}_chars", "word_chars", TopThresholdPct(n))) ++
      DupNs.map(n => rule(s"dup${n}_chars", "word_chars", DupThresholdPct(n)))
    val joins =
      Seq("linstat", "parstat", "wstat").map(t => s"LEFT JOIN $t USING (doc_id)") ++
      TopNs.map(n => s"LEFT JOIN t$n USING (doc_id)") ++
      DupNs.map(n => s"LEFT JOIN d$n USING (doc_id)")
    s"""WITH base AS (
           SELECT doc_id,
                  regexp_replace(regexp_replace(text, ' table ',
                    chr(10) || chr(10), 'g'), ' the ', chr(10), 'g') AS t
           FROM documents),
         ${segStats("lin", "string_split(t, chr(10))")},
         ${segStats("par", "regexp_split_to_array(t, chr(10) || '{2,}')")},
         tt AS (SELECT doc_id, regexp_split_to_array(trim(lower(t)),
               '[ \\t\\n\\x0b\\f\\r]+') AS toks FROM base),
         wr AS (SELECT doc_id, u.i AS o, toks[u.i + 1] AS w
             FROM tt, unnest(range(0, len(toks))) AS u(i)),
         w AS (SELECT doc_id, w, length(w) AS wl,
                      row_number() OVER (PARTITION BY doc_id ORDER BY o) AS i
             FROM wr WHERE w <> ''),
         wstat AS (SELECT doc_id, CAST(SUM(wl) AS BIGINT) AS word_chars
             FROM w GROUP BY doc_id),
         ${allNs.map(gramCte).mkString(",\n         ")},
         ${TopNs.map(topCte).mkString(",\n         ")},
         ${DupNs.map(dupCte).mkString(",\n         ")}
       SELECT d.doc_id,
              ${metricCols.map { case (src, out) => s"CAST(${z(src)} AS BIGINT) AS $out" }
                .mkString(",\n              ")},
              CAST(CASE WHEN ${keepRules.mkString("\n                AND ")}
                   THEN 1 ELSE 0 END AS BIGINT) AS keep
       FROM documents d
       ${joins.mkString("\n       ")}
       ORDER BY d.doc_id"""
  }

  /** DuckDB replay of QualityClassifier.marginMicros: per-token quantized
    * weights as literals (weight of token t = w_µ[h(t)], hashing resolved at
    * generation time — hash collisions transfer into the table by
    * construction), integer sum + intercept, keep = margin ≥ 0. */
  private def qcOracleSql(tw: Seq[(String, Long)], iceptMicros: Long): String = {
    def esc(s: String) = s.replace("'", "''")
    val values =
      if (tw.isEmpty) "('', 0)"
      else tw.map { case (t, w) => s"('${esc(t)}', $w)" }.mkString(", ")
    s"""WITH tw(t, w) AS (VALUES $values),
       tok AS (SELECT doc_id, u.t AS t
               FROM documents, unnest(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+')) AS u(t)
               WHERE u.t <> ''),
       s AS (SELECT doc_id, CAST($iceptMicros + COALESCE(SUM(w), 0) AS BIGINT) AS z
             FROM tok LEFT JOIN tw ON tok.t = tw.t GROUP BY doc_id)
       SELECT d.doc_id,
              CAST(COALESCE(s.z, $iceptMicros) AS BIGINT) AS margin_micros,
              CAST(CASE WHEN COALESCE(s.z, $iceptMicros) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
       FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
       ORDER BY d.doc_id"""
  }

  /** DuckDB equivalents. Notes: SUM() in DuckDB widens to HUGEINT — always
    * cast back to BIGINT/DOUBLE; events.ts is TIMESTAMP_NS — epoch_ns() gives
    * the same int64 nanos Spark reads. */
  /** DuckDB replay of the q_k_anon_multi product-lattice walk: one
    * grouped-count CTE per node in the SAME (height, lex) order
    * Privacy.lattice emits, a CASE chain picking the first node whose min
    * group reaches k, and per-node release branches (the all-coarsest
    * branch also carries the suppression HAVING). Static SQL — the lattice
    * is fixed by the gate's ladders, no corpus-derived literals. */
  private def kAnonMultiOracleSql(k: Long): String = {
    val d = Seq(
      "month" -> "strftime(o_orderdate, '%Y-%m')",
      "quarter" -> ("CAST(year(o_orderdate) AS VARCHAR) || '-Q' || " +
        "CAST(quarter(o_orderdate) AS VARCHAR)"),
      "year" -> "CAST(year(o_orderdate) AS VARCHAR)")
    val p = Seq(
      "price10k" -> "CAST(CAST(round(o_totalprice * 100) AS BIGINT) // 1000000 AS VARCHAR)",
      "price100k" -> "CAST(CAST(round(o_totalprice * 100) AS BIGINT) // 10000000 AS VARCHAR)",
      "priceAll" -> "'*'")
    // Privacy.lattice((3, 3)) order: height, then lexicographic
    val nodes = Seq((0, 0), (0, 1), (1, 0), (0, 2), (1, 1), (2, 0), (1, 2), (2, 1), (2, 2))
    val defs = nodes.zipWithIndex.map { case ((i, j), n) =>
      s"""g$n AS (SELECT ${d(i)._2} AS qi0, ${p(j)._2} AS qi1,
                        o_orderpriority AS pr FROM orders),
         m$n AS (SELECT min(c) AS m
                 FROM (SELECT count(*) AS c FROM g$n GROUP BY qi0, qi1, pr))"""
    }
    val caseChain = nodes.indices
      .map(n => s"WHEN (SELECT m FROM m$n) >= $k THEN $n").mkString(" ")
    val branches = nodes.zipWithIndex.map { case ((i, j), n) =>
      val lbl = s"${d(i)._1}|${p(j)._1}"
      if (n < nodes.length - 1)
        s"""SELECT '$lbl' AS gen_level, qi0, qi1, pr AS o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n
            FROM g$n WHERE (SELECT w FROM win) = $n GROUP BY qi0, qi1, pr"""
      else
        s"""SELECT '$lbl', qi0, qi1, pr, CAST(count(*) AS BIGINT)
            FROM g$n WHERE (SELECT w FROM win) IN ($n, 99) GROUP BY qi0, qi1, pr
            HAVING (SELECT w FROM win) = $n OR count(*) >= $k"""
    }
    s"""WITH ${defs.mkString(",\n")},
       win AS (SELECT CASE $caseChain ELSE 99 END AS w)
       SELECT * FROM (${branches.mkString("\nUNION ALL\n")})
       ORDER BY qi0, qi1, o_orderpriority"""
  }

  def oracleSql: Map[String, String] = Map(
    "q_filter_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
           AND l_quantity < 10
         ORDER BY l_orderkey, l_linenumber""",
    "q_match_filter" ->
      """SELECT doc_id, source FROM documents
         WHERE text LIKE '%spark join%' AND lang = 'en' ORDER BY doc_id""",
    "q_range_filter" ->
      """SELECT event_id, user_id, CAST(round(value*100) AS BIGINT) AS value_cents
         FROM events
         WHERE value BETWEEN 100.0 AND 150.0 AND event_type = 'purchase'
         ORDER BY event_id""",
    "q_map_project" ->
      """SELECT l_orderkey, l_linenumber,
                CAST(round(l_extendedprice*100) AS BIGINT) *
                (100 - CAST(round(l_discount*100) AS BIGINT)) AS revenue_c4
         FROM lineitem WHERE l_orderkey <= 100
         ORDER BY l_orderkey, l_linenumber""",
    "q_regex_replace" ->
      """SELECT doc_id, substr(regexp_replace(text, 'spark', 'SPARK', 'g'), 1, 60) AS snippet
         FROM documents ORDER BY doc_id""",
    "q_augment_text" ->
      """SELECT doc_id, '[' || lang || '] ' || substr(text, 1, 40) AS augmented
         FROM documents ORDER BY doc_id""",
    "q_count" -> "SELECT count(*) AS cnt FROM lineitem",
    "q_count_distinct" -> "SELECT count(DISTINCT l_partkey) AS cnt FROM lineitem",
    "q_groupby_count" ->
      """SELECT o_orderpriority AS key, count(*) AS count FROM orders
         GROUP BY 1 ORDER BY key""",
    "q_groupby_count_unique" ->
      """SELECT l_returnflag AS key, count(DISTINCT l_orderkey) AS count FROM lineitem
         GROUP BY 1 ORDER BY key""",
    "q_agg_pricing" ->
      """WITH c AS (
           SELECT l_returnflag, l_linestatus,
                  CAST(l_quantity AS BIGINT) AS qty,
                  CAST(round(l_extendedprice*100) AS BIGINT) AS price_c,
                  CAST(round(l_discount*100) AS BIGINT) AS disc_p,
                  CAST(round(l_tax*100) AS BIGINT) AS tax_p
           FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01')
         SELECT l_returnflag, l_linestatus,
                CAST(SUM(qty) AS BIGINT) AS sum_qty,
                CAST(SUM(price_c) AS BIGINT) AS sum_base_c,
                CAST(SUM(price_c * (100 - disc_p)) AS BIGINT) AS sum_disc_c4,
                CAST(SUM(price_c * (100 - disc_p) * (100 + tax_p)) AS BIGINT) AS sum_charge_c6,
                count(*) AS n,
                CAST(SUM(qty) AS DOUBLE) / count(*) AS avg_qty,
                CAST(SUM(price_c) AS DOUBLE) / count(*) AS avg_price_c
         FROM c GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_aggregate" ->
      """SELECT o_custkey,
                count(*) AS n_orders,
                CAST(MIN(round(o_totalprice*100)) AS BIGINT) AS min_c,
                CAST(MAX(round(o_totalprice*100)) AS BIGINT) AS max_c,
                CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_c,
                CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE) / count(*) AS avg_c
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "q_reduce" ->
      """SELECT o_custkey, string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "q_rake" ->
      """WITH tk AS (SELECT doc_id,
                       unnest(list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> length(x) > 0)) AS w,
                       generate_subscripts(list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'), x -> length(x) > 0), 1) AS pos
                     FROM documents),
         m AS (SELECT doc_id, w, pos, w IN ('the', 'a', 'an', 'of', 'and', 'or', 'to', 'in', 'is', 'are', 'was', 'for', 'on', 'with', 'as', 'at', 'by', 'it', 'that', 'this', 'be', 'data', 'table', 'row', 'key', 'value', 'line') AS stop,
                      sum(CASE WHEN w IN ('the', 'a', 'an', 'of', 'and', 'or', 'to', 'in', 'is', 'are', 'was', 'for', 'on', 'with', 'as', 'at', 'by', 'it', 'that', 'this', 'be', 'data', 'table', 'row', 'key', 'value', 'line') THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY pos) AS grp
               FROM tk),
         ph AS (SELECT doc_id, grp, string_agg(w, ' ' ORDER BY pos) AS phrase,
                       CAST(count(*) AS BIGINT) AS n_words
                FROM m WHERE NOT stop GROUP BY doc_id, grp
                HAVING count(*) <= 4),
         pw AS (SELECT doc_id, grp, n_words, unnest(string_split(phrase, ' ')) AS w FROM ph),
         st AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS freq,
                       CAST(sum(n_words) AS BIGINT) AS deg
                FROM pw GROUP BY doc_id, w),
         sc AS (SELECT pw.doc_id, pw.grp,
                       CAST(sum(st.deg) AS BIGINT) AS phrase_deg,
                       CAST(sum(st.freq) AS BIGINT) AS phrase_freq
                FROM pw JOIN st ON pw.doc_id = st.doc_id AND pw.w = st.w
                GROUP BY pw.doc_id, pw.grp),
         ded AS (SELECT ph.doc_id, ph.phrase, ph.n_words, sc.phrase_deg, sc.phrase_freq,
                        floor((CAST(sc.phrase_deg AS DOUBLE) / sc.phrase_freq) * 1000000.0 + 0.5) / 1000000.0 AS score
                 FROM sc JOIN ph ON sc.doc_id = ph.doc_id AND sc.grp = ph.grp
                 GROUP BY ALL),
         rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                         ORDER BY score DESC, phrase) AS INT) AS rank
                FROM ded)
         SELECT doc_id, phrase, n_words, phrase_deg, phrase_freq, score, rank
         FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""",
    "q_term_frequency" ->
      """SELECT doc_id, t.token, count(*) AS tf
         FROM documents, unnest(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS t(token)
         WHERE doc_id < 10
         GROUP BY doc_id, t.token ORDER BY doc_id, t.token""",
    "q_sort_topk" ->
      """SELECT l_orderkey, l_linenumber, CAST(round(l_extendedprice*100) AS BIGINT) AS price_c
         FROM lineitem ORDER BY price_c DESC, l_orderkey, l_linenumber LIMIT 100""",
    "q_limit" ->
      "SELECT o_orderkey, o_custkey FROM orders ORDER BY o_orderkey LIMIT 10",
    "q_topk_groups" ->
      """SELECT event_type AS key, count(*) AS count FROM events
         GROUP BY 1 ORDER BY count DESC, key LIMIT 5""",
    "q_field_in" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
         ORDER BY c_custkey""",
    "q_union" ->
      """SELECT o_orderstatus AS key, count(*) AS count FROM (
           SELECT * FROM orders WHERE o_orderstatus = 'F'
           UNION ALL
           SELECT * FROM orders WHERE o_totalprice > 100000.0)
         GROUP BY 1 ORDER BY key""",
    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         ORDER BY o_custkey""",
    "q_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         ORDER BY o_custkey""",
    "q_join_inner" ->
      """SELECT n_name, count(*) AS n_orders,
                CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_c
         FROM orders JOIN customer ON o_custkey = c_custkey
                     JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "q_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "q_unroll" ->
      """SELECT p_partkey, t.word FROM part, unnest(str_split(p_type, ' ')) AS t(word)
         ORDER BY p_partkey, t.word""",
    "q_reconstruct" ->
      """SELECT doc_id,
                CASE WHEN length(text) = 0 THEN 0
                     ELSE CAST(ceil(length(text) / 50.0) AS BIGINT) END AS n_elements,
                text AS text_r
         FROM documents ORDER BY doc_id""",
    "q_attr_properties" ->
      """WITH d AS (SELECT doc_id, text, substring(text, 61, 12) AS v
                    FROM documents WHERE length(text) >= 73),
         s AS (SELECT doc_id,
                      strpos(substring(text, 1, 60), v) AS p0,
                      strpos(substring(text, 61, 60), v) AS p1
               FROM d)
         SELECT doc_id,
                CAST(CASE WHEN p0 > 0 THEN 0 ELSE 1 END AS BIGINT) AS attr_element,
                CAST(CASE WHEN p0 > 0 THEN p0 - 1 ELSE p1 - 1 END AS BIGINT) AS attr_start,
                CAST(1000 AS BIGINT) AS score_milli
         FROM s ORDER BY doc_id""",
    "q_docset_query" ->
      """SELECT 'lang_' || lang AS query_id, doc_id FROM documents
         UNION ALL
         SELECT 'match_sparkwindow' AS query_id, doc_id FROM documents
         WHERE ' ' || regexp_replace(text, '\s', ' ', 'g') || ' ' LIKE '% spark %'
            OR ' ' || regexp_replace(text, '\s', ' ', 'g') || ' ' LIKE '% window %'
         ORDER BY 1, 2""",
    "q_window_rank" ->
      """SELECT o_custkey, rn, o_orderkey, price_c FROM (
           SELECT o_custkey, o_orderkey,
                  CAST(round(o_totalprice*100) AS BIGINT) AS price_c,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3
         ORDER BY o_custkey, rn""",
    "q_window_running" ->
      """SELECT user_id, event_id,
                CAST(SUM(CAST(round(value*100) AS BIGINT)) OVER (
                  PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_c
         FROM events ORDER BY user_id, event_id""",
    "q_sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
           FROM events),
         s AS (
           SELECT user_id, event_id, ts_us,
                  CAST(SUM(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                                THEN 1 ELSE 0 END) OVER (
                    PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM e)
         SELECT user_id, session_id, count(*) AS n_events,
                CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS dur_us
         FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""",
    "q_time_window" ->
      """SELECT epoch_ns(ts) - (epoch_ns(ts) % 3600000000000) AS hour_ns, event_type,
                count(*) AS n,
                CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_c
         FROM events GROUP BY 1, 2 ORDER BY hour_ns, event_type""",
    "q_resample_locf" ->
      // LOCF without IGNORE NULLS: grp = running count of non-null sums
      // (constant within a carried stretch), then one max per (key, grp)
      """WITH e AS (SELECT event_type, epoch_ns(ts) - epoch_ns(ts) % 3600000000000 AS b,
                           CAST(round(value * 100) AS BIGINT) AS c
                    FROM events),
         agg AS (SELECT event_type, b, CAST(count(*) AS BIGINT) AS n_events,
                        CAST(sum(c) AS BIGINT) AS sum_c
                 FROM e GROUP BY 1, 2),
         keys AS (SELECT DISTINCT event_type FROM e),
         gs AS (SELECT unnest(generate_series((SELECT min(b) FROM e),
                                              (SELECT max(b) FROM e),
                                              3600000000000)) AS g),
         grid AS (SELECT k.event_type, gs.g AS bucket_ns FROM keys k, gs),
         j AS (SELECT g.event_type, g.bucket_ns, agg.n_events, agg.sum_c
               FROM grid g LEFT JOIN agg
                 ON g.event_type = agg.event_type AND g.bucket_ns = agg.b),
         w AS (SELECT event_type, bucket_ns, n_events, sum_c,
                      count(sum_c) OVER (PARTITION BY event_type ORDER BY bucket_ns) AS grp
               FROM j)
         SELECT event_type, bucket_ns,
                CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
                CAST(max(sum_c) OVER (PARTITION BY event_type, grp) AS BIGINT) AS sum_c_locf,
                (n_events IS NULL AND
                 max(sum_c) OVER (PARTITION BY event_type, grp) IS NOT NULL) AS carried
         FROM w ORDER BY event_type, bucket_ns""",
    "q_cdc_merge" ->
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS cust,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                    FROM orders),
         base AS (SELECT * FROM o WHERE k % 3 != 0),
         ch AS (SELECT k, cust, cents, 'D' AS op, 1 AS seq FROM o WHERE k % 7 = 0
                UNION ALL
                SELECT k, cust, cents + 100, 'U', 1 FROM o WHERE k % 7 = 1
                UNION ALL
                SELECT k, cust, cents + 200, 'U', 2 FROM o WHERE k % 14 = 1
                UNION ALL
                SELECT k, cust, cents, 'I', 1 FROM o WHERE k % 7 = 2 AND k % 3 = 0),
         w AS (SELECT k, cust, cents, op,
                      row_number() OVER (PARTITION BY k ORDER BY seq DESC, op DESC) AS rn
               FROM ch)
         SELECT b.k, b.cust, b.cents FROM base b
         WHERE NOT EXISTS (SELECT 1 FROM ch WHERE ch.k = b.k)
         UNION ALL
         SELECT k, cust, cents FROM w WHERE rn = 1 AND op != 'D'
         ORDER BY k""",
    "q_scd2" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_type FROM events),
         m AS (SELECT user_id, t, event_type,
                  CASE WHEN row_number() OVER
                         (PARTITION BY user_id ORDER BY t, event_type) = 1 THEN true
                       ELSE event_type IS DISTINCT FROM lag(event_type) OVER
                         (PARTITION BY user_id ORDER BY t, event_type) END AS chg
               FROM e),
         c AS (SELECT * FROM m WHERE chg)
         SELECT user_id, event_type, t AS valid_from,
                lead(t) OVER (PARTITION BY user_id ORDER BY t, event_type) AS valid_to,
                (lead(t) OVER (PARTITION BY user_id ORDER BY t, event_type) IS NULL)
                  AS is_current,
                CAST(row_number() OVER (PARTITION BY user_id ORDER BY t, event_type)
                  AS BIGINT) AS version
         FROM c ORDER BY user_id, valid_from""",
    "q_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS n
         FROM events GROUP BY 1 ORDER BY k""",
    "q_math" ->
      """SELECT CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE) / count(*)
                AS avg_order_c FROM orders""",
    "q_token_count" ->
      """SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) END AS n_ws,
                len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9 \t\n\x0b\f\r]')) AS n_bpeish
         FROM documents ORDER BY doc_id""",
    "q_quality" ->
      """WITH t AS (SELECT doc_id, text,
                           regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents)
         SELECT doc_id,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS BIGINT) AS n_punct,
                floor((CASE WHEN length(text) = 0 THEN 0.0
                      ELSE CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE)
                           / length(text) END) * 1000000.0 + 0.5) / 1000000.0 AS alpha_ratio,
                floor((CASE WHEN length(trim(text)) = 0 THEN 0.0
                      ELSE CAST(len(list_filter(toks, t -> list_contains(
                             ['the','a','an','of','and','or','to','in','is','are','was',
                              'for','on','with','as','at','by','it','that','this','be'], t))) AS DOUBLE)
                           / len(toks) END) * 1000000.0 + 0.5) / 1000000.0 AS stop_ratio,
                floor((CASE WHEN length(trim(text)) = 0 THEN 0.0
                      ELSE CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                           / len(toks) END) * 1000000.0 + 0.5) / 1000000.0 AS mean_tok_len
         FROM t ORDER BY doc_id""",
    "q_fingerprint" ->
      """SELECT doc_id,
                CAST(list_reduce(list_prepend(0::BIGINT, list_transform(str_split(text, ''), x -> ascii(x)::BIGINT)),
                     (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS fp
         FROM documents ORDER BY doc_id""",
    "q_sample_hash" ->
      """SELECT doc_id FROM documents
         WHERE list_reduce(list_prepend(0::BIGINT,
                 list_transform(
                   str_split(doc_id::VARCHAR || ':split1:' || doc_id::VARCHAR, ''),
                   x -> ascii(x)::BIGINT)),
                 (a, b) -> (a * 31 + b) % 1000000007) % 10000 < 1000
         ORDER BY doc_id""",
    "q_random_sample" ->
      // DocSet.sampleByHash(0.2, salt = "rs42"): the declared-seed salted
      // rolling-polynomial bucket, replayed exactly (q_sample_hash's twin
      // with a different salt and fraction)
      """SELECT doc_id FROM documents
         WHERE list_reduce(list_prepend(0::BIGINT,
                 list_transform(
                   str_split(doc_id::VARCHAR || ':rs42:' || doc_id::VARCHAR, ''),
                   x -> ascii(x)::BIGINT)),
                 (a, b) -> (a * 31 + b) % 1000000007) % 10000 < 2000
         ORDER BY doc_id""",
    "q_quality_score" ->
      """WITH t AS (SELECT doc_id, text,
                           regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents)
         SELECT doc_id,
                floor((least(length(text)::DOUBLE / 500.0, 1.0) * 0.3 +
                  (CASE WHEN length(text) = 0 THEN 0.0
                        ELSE CAST(length(text) -
                               length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE)
                             / length(text) END) * 0.3 +
                  least((CASE WHEN length(trim(text)) = 0 THEN 0.0
                        ELSE CAST(len(list_filter(toks, x -> list_contains(
                               ['the','a','an','of','and','or','to','in','is','are','was',
                                'for','on','with','as','at','by','it','that','this','be'], x)))
                               AS DOUBLE) / len(toks) END) * 5.0, 1.0) * 0.3 +
                  (1.0 - least(CAST(length(text) -
                           length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
                         / greatest(length(text), 1) * 4.0, 1.0)) * 0.1) * 1000000.0 + 0.5) / 1000000.0 AS quality
         FROM t ORDER BY doc_id""",
    "q_pii_scrub" ->
      """SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  substr(text, 1, 40) || ' reach user' || doc_id ||
                    '@mail.example.org or 10.20.30.40; ssn 123-45-6789; tel +1 555-123-4567.',
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g'),
                  '\b\d{3}-\d{2}-\d{4}\b', '[PII]', 'g'),
                  '\+?\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '[PII]', 'g'),
                  '\b(\d{1,3}\.){3}\d{1,3}\b', '[PII]', 'g') AS clean
         FROM documents ORDER BY doc_id""",
    "q_pii_luhn" ->
      // index-free Luhn (see gf.luhnValid): reversed digits chunked into
      // pairs ('..|.') — pair[1] = odd position from the right (as-is),
      // pair[2] = even (doubled, -9 above 4). Same decomposition both
      // engines, so the checksum is exact.
      """WITH t AS (
           SELECT doc_id,
                  '4' || lpad(doc_id::VARCHAR, 14, '0') || (doc_id % 10)::VARCHAR AS cc
           FROM documents),
         v AS (
           SELECT doc_id, cc,
                  'order ' || doc_id::VARCHAR || ' card ' || cc || ' thanks' AS sentence,
                  length(cc) BETWEEN 13 AND 19 AND
                  list_sum(list_transform(regexp_extract_all(reverse(cc), '..|.'),
                    p -> (ascii(substring(p, 1, 1)) - 48)
                         + CASE WHEN length(p) = 2 THEN
                             CASE WHEN ascii(substring(p, 2, 1)) - 48 > 4
                                  THEN (ascii(substring(p, 2, 1)) - 48) * 2 - 9
                                  ELSE (ascii(substring(p, 2, 1)) - 48) * 2 END
                           ELSE 0 END)) % 10 = 0 AS valid
           FROM t)
         SELECT doc_id, cc, valid,
                CASE WHEN valid THEN replace(sentence, cc, '[CC]') ELSE sentence END
                  AS scrubbed
         FROM v ORDER BY doc_id""",
    "q_readability" ->
      """WITH t AS (
           SELECT doc_id, text, length(trim(text)) = 0 AS empty,
                  regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
           FROM documents),
         c AS (
           SELECT doc_id,
                  CASE WHEN empty THEN 0 ELSE len(toks) END::BIGINT AS w,
                  CASE WHEN empty THEN 0
                       ELSE greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  END::BIGINT AS s,
                  CASE WHEN empty THEN 0
                       ELSE len(regexp_extract_all(lower(text), '[aeiouy]+'))
                            + len(list_filter(toks, x -> NOT regexp_matches(x, '[aeiouy]')))
                  END::BIGINT AS y
           FROM t)
         SELECT doc_id, w AS n_words, s AS n_sentences, y AS n_syllables,
                CASE WHEN w * s = 0 THEN 0
                     ELSE greatest(390 * w * w + 11800 * y * s - 15590 * w * s, 0)
                          // (w * s) END::BIGINT AS fk_milli
         FROM c ORDER BY doc_id""",
    "q_repetition" ->
      """WITH d AS (SELECT doc_id, regexp_replace(text, '\. ', chr(10), 'g') AS t
                    FROM documents),
         tt AS (SELECT doc_id, regexp_split_to_array(trim(lower(t)), '[ \t\n\x0b\f\r]+') AS toks FROM d),
         bg AS (SELECT doc_id, unnest(list_transform(
                  range(0, greatest(len(toks) - 2, 0) + 1),
                  i -> array_to_string(toks[(i+1):(i+2)], ' '))) AS bg
                FROM tt),
         c AS (SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY 1, 2),
         s AS (SELECT doc_id, CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS tbf
               FROM c GROUP BY 1),
         l AS (SELECT doc_id, list_filter(str_split(t, chr(10)),
                 x -> length(trim(x)) > 0) AS ls FROM d)
         SELECT l.doc_id AS doc_id,
                floor((CASE WHEN len(ls) = 0 THEN 0.0
                      ELSE CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls)
                      END) * 1000000.0 + 0.5) / 1000000.0 AS dup_line_frac,
                floor((s.tbf) * 1000000.0 + 0.5) / 1000000.0 AS top_bigram_frac
         FROM l JOIN s ON l.doc_id = s.doc_id
         ORDER BY l.doc_id""",
    "q_gopher_repetition" -> repetitionOracleSql,
    "q_dedup_exact" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, count(*) AS n_copies
         FROM documents GROUP BY text ORDER BY doc_id""",
    "q_dedup_rows" ->
      """SELECT doc_id, lang FROM documents
         WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY text)
         ORDER BY doc_id""",
    "q_dedup_keep_best" ->
      """WITH all_docs AS (
           SELECT doc_id, text, lang FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 7 = 0)
         SELECT doc_id, lang FROM all_docs
         WHERE doc_id IN (SELECT CAST(max(doc_id) AS BIGINT) FROM all_docs GROUP BY text)
         ORDER BY doc_id""",
    "q_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(0, greatest(len(toks) - 5, 0) + 1),
                  i -> array_to_string(toks[(i+1):(i+5)], ' ')))) AS sh
                FROM t),
         n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         shared AS (SELECT a.doc_id AS idA, b.doc_id AS idB, count(*) AS shared
                    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
         SELECT idA, idB,
                floor((CAST(shared AS DOUBLE) / (na.n + nb.n - shared)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
         FROM shared JOIN n na ON idA = na.doc_id JOIN n nb ON idB = nb.doc_id
         WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= 0.5
         ORDER BY idA, idB""",
    "q_containment" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(0, greatest(len(toks) - 5, 0) + 1),
                  i -> array_to_string(toks[(i+1):(i+5)], ' ')))) AS sh
                FROM t),
         n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         shared AS (SELECT a.doc_id AS idA, b.doc_id AS idB, count(*) AS shared
                    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2),
         ord AS (SELECT idA AS inner_id, idB AS outer_id, shared, na.n AS n_inner
                 FROM shared JOIN n na ON idA = na.doc_id
                 UNION ALL
                 SELECT idB, idA, shared, nb.n
                 FROM shared JOIN n nb ON idB = nb.doc_id)
         SELECT inner_id, outer_id, CAST(shared AS BIGINT) AS shared,
                CAST(n_inner AS BIGINT) AS n_inner,
                CAST(shared * 1000 // n_inner AS BIGINT) AS containment_permille
         FROM ord WHERE shared * 1000 >= 700 * n_inner
         ORDER BY inner_id, outer_id""",
    "q_rolling_window" ->
      """SELECT user_id, epoch_us(ts) AS t,
                CAST(count(*) OVER w AS BIGINT) AS n_window,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS sum_window
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, t, n_window""",
    "q_minhash_dedup" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents),
         sh AS (SELECT doc_id, list_transform(
                  range(0, greatest(len(toks) - 5, 0) + 1),
                  i -> array_to_string(toks[(i+1):(i+5)], ' ')) AS shingles
                FROM t),
         hs AS (SELECT doc_id, list_transform(shingles, s ->
                  list_reduce(list_prepend(0::BIGINT,
                    list_transform(str_split(s, ''), ch -> ascii(ch)::BIGINT)),
                    (a, c) -> (a * 31 + c) % 2147483647)) AS hh
                FROM sh),
         sig AS (SELECT doc_id, list_transform(range(0, 16), j ->
                   coalesce(list_min(list_transform(hh,
                     h -> ((2*j + 1) * h + 12345*j) % 2147483647)), 2147483647)) AS sg
                 FROM hs),
         pairs AS (SELECT a.doc_id AS idA, b.doc_id AS idB
                   FROM sig a JOIN sig b ON a.doc_id < b.doc_id
                   WHERE list_contains(list_transform(range(0, 4),
                           bd -> a.sg[(bd*4+1):(bd*4+4)] = b.sg[(bd*4+1):(bd*4+4)]), true)
                     AND len(list_filter(range(0, 16), j -> a.sg[j+1] = b.sg[j+1])) >= 8)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT idB FROM pairs)
         ORDER BY doc_id""",
    "q_events_e2e" ->
      // chained replay: sessionize -> engaged gate -> funnel over engaged
      // -> attribution over converted -> retention over converted; each
      // stage CTE feeds the next, verifying the COMPOSITION
      """WITH e AS (SELECT user_id, event_id, event_type,
                           epoch_us(ts) AS ts_us, epoch_ns(ts) AS ts_ns
                    FROM events),
         sess AS (SELECT user_id,
                  CASE WHEN lag(ts_us) OVER w IS NULL
                         OR ts_us - lag(ts_us) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         ns AS (SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions
                FROM sess GROUP BY user_id),
         eng AS (SELECT user_id, n_sessions FROM ns WHERE n_sessions >= 2),
         ee AS (SELECT * FROM e WHERE user_id IN (SELECT user_id FROM eng)),
         s1 AS (SELECT user_id AS u, min(ts_ns) AS t1 FROM ee
                WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT ee.user_id AS u, min(ee.ts_ns) AS t2, s1.t1 AS t1
                FROM ee JOIN s1 ON ee.user_id = s1.u
                WHERE ee.event_type = 'click' AND ee.ts_ns > s1.t1
                      AND ee.ts_ns - s1.t1 <= 604800000000000
                GROUP BY 1, 3),
         s3 AS (SELECT ee.user_id AS u, min(ee.ts_ns) AS t3
                FROM ee JOIN s2 ON ee.user_id = s2.u
                WHERE ee.event_type = 'purchase' AND ee.ts_ns > s2.t2
                      AND ee.ts_ns - s2.t1 <= 604800000000000
                GROUP BY 1),
         ec AS (SELECT * FROM ee WHERE user_id IN (SELECT u FROM s3)),
         att AS (SELECT c.event_id AS conv_id,
                        CAST(count(t.event_id) AS BIGINT) AS n_touches
                 FROM (SELECT * FROM ec WHERE event_type = 'purchase') c
                 LEFT JOIN (SELECT * FROM ec
                            WHERE event_type IN ('click', 'view')) t
                   ON t.user_id = c.user_id
                  AND t.ts_us BETWEEN c.ts_us - 604800000000 AND c.ts_us - 1
                 GROUP BY 1),
         act AS (SELECT DISTINCT user_id AS u, ts_ns // 604800000000000 AS b
                 FROM ec),
         coh AS (SELECT u, min(b) AS c FROM act GROUP BY u),
         retm AS (SELECT coh.c AS cohort, act.b - coh.c AS off,
                         CAST(count(*) AS BIGINT) AS users
                  FROM act JOIN coh ON act.u = coh.u GROUP BY 1, 2)
         SELECT stage, n_units, aux FROM (
           SELECT '00_ingest' AS stage,
                  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_units,
                  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM e) AS aux
           UNION ALL SELECT '01_engaged',
                  (SELECT CAST(count(*) AS BIGINT) FROM eng),
                  (SELECT CAST(COALESCE(sum(n_sessions), 0) AS BIGINT) FROM eng)
           UNION ALL SELECT '02_funnel',
                  (SELECT CAST(count(*) AS BIGINT) FROM s3),
                  (SELECT CAST(count(*) AS BIGINT) FROM s1)
           UNION ALL SELECT '03_attribution',
                  (SELECT CAST(COALESCE(sum(CASE WHEN n_touches >= 1 THEN 1
                                               ELSE 0 END), 0) AS BIGINT) FROM att),
                  (SELECT CAST(COALESCE(sum(n_touches), 0) AS BIGINT) FROM att)
           UNION ALL SELECT '04_retention',
                  (SELECT CAST(COALESCE(sum(CASE WHEN off >= 1 THEN users
                                               ELSE 0 END), 0) AS BIGINT) FROM retm),
                  (SELECT CAST(count(*) AS BIGINT) FROM retm)
         ) ORDER BY stage""",
    "q_dedup_incremental" ->
      // replay order: exact-vs-history (text equality = the 192-bit key's
      // semantic), band/est near-vs-history (history wins, no id order),
      // then the greedy min-id rule WITHIN the history-survivor set
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents),
         sh AS (SELECT doc_id, list_transform(
                  range(0, greatest(len(toks) - 5, 0) + 1),
                  i -> array_to_string(toks[(i+1):(i+5)], ' ')) AS shingles
                FROM t),
         hs AS (SELECT doc_id, list_transform(shingles, s ->
                  list_reduce(list_prepend(0::BIGINT,
                    list_transform(str_split(s, ''), ch -> ascii(ch)::BIGINT)),
                    (a, c) -> (a * 31 + c) % 2147483647)) AS hh
                FROM sh),
         sig AS (SELECT doc_id, list_transform(range(0, 16), j ->
                   coalesce(list_min(list_transform(hh,
                     h -> ((2*j + 1) * h + 12345*j) % 2147483647)), 2147483647)) AS sg
                 FROM hs),
         bsig AS (SELECT * FROM sig WHERE doc_id % 2 = 1),
         hsig AS (SELECT * FROM sig WHERE doc_id % 2 = 0),
         exact_drop AS (SELECT d.doc_id FROM documents d
                        WHERE d.doc_id % 2 = 1 AND d.text IN
                          (SELECT text FROM documents WHERE doc_id % 2 = 0)),
         near_drop AS (SELECT DISTINCT b.doc_id
                       FROM bsig b JOIN hsig h
                         ON list_contains(list_transform(range(0, 4),
                              bd -> b.sg[(bd*4+1):(bd*4+4)] = h.sg[(bd*4+1):(bd*4+4)]), true)
                        AND len(list_filter(range(0, 16), j -> b.sg[j+1] = h.sg[j+1])) >= 8),
         surv1 AS (SELECT doc_id FROM documents
                   WHERE doc_id % 2 = 1
                     AND doc_id NOT IN (SELECT doc_id FROM exact_drop)
                     AND doc_id NOT IN (SELECT doc_id FROM near_drop)),
         pairs AS (SELECT a.doc_id AS idA, b.doc_id AS idB
                   FROM sig a JOIN sig b ON a.doc_id < b.doc_id
                   WHERE a.doc_id IN (SELECT doc_id FROM surv1)
                     AND b.doc_id IN (SELECT doc_id FROM surv1)
                     AND list_contains(list_transform(range(0, 4),
                           bd -> a.sg[(bd*4+1):(bd*4+4)] = b.sg[(bd*4+1):(bd*4+4)]), true)
                     AND len(list_filter(range(0, 16), j -> a.sg[j+1] = b.sg[j+1])) >= 8)
         SELECT doc_id FROM surv1
         WHERE doc_id NOT IN (SELECT idB FROM pairs)
         ORDER BY doc_id""",
    "q_cosine_pairs" ->
      """SELECT a.vec_id AS idA, b.vec_id AS idB,
                floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 1000000.0 + 0.5) / 1000000.0 AS cosine
         FROM embeddings a JOIN embeddings b
           ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
         ORDER BY idA, idB""",
    "q_semdedup" ->
      """WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                    FROM embeddings WHERE vec_id < 8),
         a AS (SELECT e.vec_id, e.label, e.embedding::DOUBLE[] AS v,
                      min(struct_pack(d := list_distance(e.embedding::DOUBLE[], c.cv),
                                      cid := c.cid)).cid AS cl
               FROM embeddings e CROSS JOIN c GROUP BY e.vec_id, e.label, e.embedding)
         SELECT vec_id, CAST(label AS BIGINT) AS label FROM a
         WHERE vec_id NOT IN (
           SELECT y.vec_id FROM a x JOIN a y ON x.cl = y.cl AND x.vec_id < y.vec_id
           WHERE list_cosine_similarity(x.v, y.v) >= 0.45)
         ORDER BY vec_id""",
    "q_tfidf" ->
      """WITH toks AS (SELECT doc_id,
                         unnest(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS term
                       FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM toks WHERE term <> '' GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                       tf.tf::DOUBLE * (n.n + 1)::DOUBLE / (dfq.df + 1)::DOUBLE AS score
                FROM tf JOIN dfq USING (term) CROSS JOIN n),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                            ORDER BY score DESC, term) AS rk FROM sc)
         SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
                floor((score) * 1000000.0 + 0.5) / 1000000.0 AS score
         FROM r WHERE rk <= 3 ORDER BY doc_id, term""",
    "q_ctfidf" ->
      """WITH toks AS (SELECT lang,
                         unnest(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS term
                       FROM documents),
         tf AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS tf
                FROM toks WHERE term <> '' GROUP BY 1, 2),
         ft AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ft FROM tf GROUP BY 1),
         tot AS (SELECT CAST(sum(tf) AS BIGINT) AS tt,
                        CAST(count(DISTINCT lang) AS BIGINT) AS nc FROM tf),
         sc AS (SELECT tf.lang, tf.term, tf.tf, ft.ft,
                       tf.tf::DOUBLE * (tt::DOUBLE / nc::DOUBLE + 1.0)
                         / (ft.ft + 1)::DOUBLE AS score
                FROM tf JOIN ft USING (term) CROSS JOIN tot),
         r AS (SELECT *, row_number() OVER (PARTITION BY lang
                                            ORDER BY score DESC, term) AS rk FROM sc)
         SELECT lang, term, tf, ft, floor((score) * 1000000.0 + 0.5) / 1000000.0 AS score,
                CAST(rk AS BIGINT) AS rank
         FROM r WHERE rk <= 10 ORDER BY lang, rank""",
    "q_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS token
                       FROM documents),
         t AS (SELECT token, count(*) AS cnt FROM toks WHERE token <> '' GROUP BY 1),
         n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM t)
         SELECT token, CAST(cnt AS BIGINT) AS cnt FROM t, n
         WHERE cnt::DOUBLE >= total::DOUBLE * 0.01
         ORDER BY token""",
    "q_range_join" ->
      """SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
                epoch_us(b.ts) - epoch_us(a.ts) AS delta_us
         FROM events a JOIN events b ON a.user_id = b.user_id
         WHERE a.event_type = 'click' AND b.event_type = 'purchase'
           AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
         ORDER BY click_id, purchase_id""",
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
                      CASE WHEN trim(text) = '' THEN 0
                           ELSE len(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) END AS w
                    FROM documents),
         c AS (SELECT doc_id, w,
                      CAST(SUM(w) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
               FROM t)
         SELECT doc_id, cum - w AS tok_start, cum AS tok_end,
                CAST(floor((cum - w) / 512) AS BIGINT) AS chunk_start,
                CASE WHEN w > 0 THEN CAST(floor((cum - 1) / 512) AS BIGINT)
                     ELSE CAST(floor((cum - w) / 512) AS BIGINT) END AS chunk_end,
                (cum - w) % 512 AS chunk_offset
         FROM c ORDER BY doc_id""",
    "q_rank_bins" ->
      """WITH r AS (SELECT doc_id, n_chars,
                      row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rank0,
                      count(*) OVER () AS n
                    FROM documents)
         SELECT doc_id, n_chars, CAST(floor(rank0 * 10 / n) AS BIGINT) AS bin
         FROM r ORDER BY doc_id""",
    "q_mixture_pack_e2e" ->
      // the q_epoch_mixture CTE chained into the q_pack_sequences CTE,
      // cumulative token sum ordered (epoch, doc_id) — the epoch-major
      // copy separation the Spark side encodes as the struct order key
      """WITH tot AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS t
                      FROM documents GROUP BY lang),
         e AS (SELECT lang,
                      (CASE lang WHEN 'en' THEN 2000000 WHEN 'de' THEN 120000
                                 WHEN 'fr' THEN 30000 END)::BIGINT * 10000 // t AS ebp
               FROM tot WHERE lang IN ('en', 'de', 'fr') AND t > 0),
         c AS (SELECT d.doc_id, d.text,
                      e.ebp // 10000 +
                      CASE WHEN list_reduce(list_prepend(0::BIGINT,
                             list_transform(
                               str_split(d.doc_id::VARCHAR || ':ep1:' || d.doc_id::VARCHAR, ''),
                               x -> ascii(x)::BIGINT)),
                             (a, b) -> (a * 31 + b) % 1000000007) % 10000
                           < e.ebp % 10000 THEN 1 ELSE 0 END AS copies
               FROM documents d JOIN e USING (lang)),
         u AS (SELECT doc_id, text,
                      CAST(unnest(generate_series(0, copies - 1)) AS BIGINT) AS epoch
               FROM c WHERE copies >= 1),
         t2 AS (SELECT doc_id, epoch,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) END AS w
                FROM u),
         cm AS (SELECT doc_id, epoch, w,
                       CAST(SUM(w) OVER (ORDER BY epoch, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                FROM t2)
         SELECT doc_id, epoch, cum - w AS tok_start, cum AS tok_end,
                CAST(floor((cum - w) / 512) AS BIGINT) AS chunk_start,
                CASE WHEN w > 0 THEN CAST(floor((cum - 1) / 512) AS BIGINT)
                     ELSE CAST(floor((cum - w) / 512) AS BIGINT) END AS chunk_end,
                (cum - w) % 512 AS chunk_offset
         FROM cm ORDER BY doc_id, epoch""",
    "q_zorder" ->
      """WITH r AS (SELECT doc_id,
                      CAST(floor((row_number() OVER (ORDER BY source, doc_id) - 1) * 16
                                 / (count(*) OVER ())) AS BIGINT) AS b0,
                      CAST(floor((row_number() OVER (ORDER BY n_chars, doc_id) - 1) * 16
                                 / (count(*) OVER ())) AS BIGINT) AS b1
                    FROM documents)
         SELECT doc_id, CAST(
             ((b0 >> 0) & 1) * 1   + ((b1 >> 0) & 1) * 2 +
             ((b0 >> 1) & 1) * 4   + ((b1 >> 1) & 1) * 8 +
             ((b0 >> 2) & 1) * 16  + ((b1 >> 2) & 1) * 32 +
             ((b0 >> 3) & 1) * 64  + ((b1 >> 3) & 1) * 128
           AS BIGINT) AS zvalue
         FROM r ORDER BY doc_id""",
    "q_docset_groupby_count" ->
      """SELECT lang AS key, count(*) AS count FROM documents
         GROUP BY lang ORDER BY key""",
    "q_docset_topk" ->
      """SELECT source AS key, count(*) AS count FROM documents
         GROUP BY source ORDER BY count DESC, key LIMIT 3""",
    "q_langid" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents),
         s AS (SELECT doc_id, list_sort([
                 struct_pack(score := len(list_filter(toks, x -> list_contains(
                   ['der','die','das','und','ist','von','mit','den','dem','ein','eine','nicht','auf'], x))), lang := 'de'),
                 struct_pack(score := len(list_filter(toks, x -> list_contains(
                   ['the','a','of','and','to','in','is','that','it','for','with','was','this'], x))), lang := 'en'),
                 struct_pack(score := len(list_filter(toks, x -> list_contains(
                   ['el','la','de','que','y','en','un','una','los','las','por','con','para'], x))), lang := 'es'),
                 struct_pack(score := len(list_filter(toks, x -> list_contains(
                   ['le','la','les','de','des','et','un','une','du','que','pour','dans','est'], x))), lang := 'fr'),
                 struct_pack(score := len(list_filter(toks, x -> list_contains(
                   ['的','了','是','在','我','有','他','这','不','就'], x))), lang := 'zh')])[-1] AS best
               FROM t)
         SELECT doc_id,
                CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS lang_detected
         FROM s ORDER BY doc_id""",
    "q_plan_summarize" ->
      """SELECT substr('Answer the question using the data below.' || chr(10) ||
                       'Question: how many orders are there' || chr(10) ||
                       'Input 1: ' || CAST(count(*) AS VARCHAR), 1, 64) AS answer
         FROM orders""",
    "q_extract_properties" ->
      """WITH t AS (SELECT doc_id, text,
                           regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents)
         SELECT doc_id,
                CASE WHEN length(trim(text)) > 0
                          AND regexp_matches(toks[1], '^[a-z]+$')
                     THEN toks[1] ELSE NULL END AS first_word,
                CASE WHEN length(trim(text)) = 0 THEN NULL
                     ELSE CAST(len(toks) AS BIGINT) END AS word_count,
                contains(text, 'spark') AS mentions_spark
         FROM t ORDER BY doc_id""",
    "q_llm_map" ->
      // coalesce both rendered fields: PromptTemplate.render substitutes a
      // missing/null field as '' while DuckDB '||' null-propagates the whole
      // gist — the gate must stay stable if the corpus gains null lang/text
      """SELECT doc_id,
                substr('doc ' || doc_id || ' [' || coalesce(lang, '') || '] '
                       || coalesce(text, ''), 1, 64) AS gist
         FROM documents ORDER BY doc_id""",
    "q_extract_entity" ->
      """SELECT doc_id,
                nullif(regexp_extract(text, '((?:19|20)\d\d)', 1), '') AS year
         FROM documents ORDER BY doc_id""",
    "q_llm_filter" ->
      """SELECT doc_id FROM documents
         WHERE CAST(substr(CAST(doc_id AS VARCHAR), 1, 1) AS INT) >= 3
         ORDER BY doc_id""",
    "q_graph_resolve" ->
      """WITH m AS (
           SELECT DISTINCT doc_id, y FROM
             (SELECT doc_id,
                     unnest(regexp_extract_all(text, '\b(spark|merge|join)\b', 1)) AS y
              FROM documents))
         SELECT '{"w":"' || y || '"}' AS entity_json,
                CAST(count(*) AS BIGINT) AS n_occurrences
         FROM m GROUP BY y ORDER BY entity_json""",
    "q_cluster_entity" ->
      """SELECT doc_id,
                CASE WHEN contains(lang, 'en') THEN 'en'
                     WHEN contains(lang, 'de') THEN 'de'
                     ELSE 'Other' END AS cluster
         FROM documents ORDER BY doc_id""",
    "q_extract_schema" ->
      // regexp-trim, not trim(): DuckDB trim() strips only ' ' while Scala
      // String.trim strips every codepoint <= U+0020 — a leading tab/newline
      // would diverge on the first word; [\x00-\x20] is String.trim's set
      """WITH t AS (SELECT doc_id,
                regexp_replace(coalesce(text, ''),
                               '^[\x00-\x20]+|[\x00-\x20]+$', '', 'g') AS tt
              FROM documents)
         SELECT doc_id,
                '{"' || CASE WHEN length(tt) = 0 THEN 'none'
                             ELSE regexp_split_to_array(tt, '[ \t\n\x0b\f\r]+')[1]
                        END || '":{"type":"string"}}' AS schema_json,
                'Doc' AS schema_class
         FROM t ORDER BY doc_id""",
    "q_llm_query" ->
      // coalesce: the Scala side renders null text as '' (PromptTemplate
      // convention) while '||' would null-propagate the whole response
      """SELECT doc_id,
                substr('Q:' || chr(10) || coalesce(text, ''), 1, 48) AS llm_response
         FROM documents ORDER BY doc_id""",
    "q_llm_map_elements" ->
      """SELECT doc_id, i AS element_index,
                substr('chunk:' || substr(text, i*50+1, 50), 1, 24) AS cap
         FROM documents,
              LATERAL (SELECT unnest(generate_series(0,
                         CAST(ceil(length(text)/50.0) AS INT)-1)) AS i) gs
         ORDER BY doc_id, element_index""",
    "q_bradley_terry" ->
      """WITH pr AS (
           SELECT CASE WHEN a.n_chars > b.n_chars OR (a.n_chars = b.n_chars AND a.doc_id < b.doc_id)
                       THEN a.doc_id ELSE b.doc_id END AS w,
                  CASE WHEN a.n_chars > b.n_chars OR (a.n_chars = b.n_chars AND a.doc_id < b.doc_id)
                       THEN b.doc_id ELSE a.doc_id END AS l
           FROM documents a JOIN documents b
             ON b.doc_id = (a.doc_id * 7 + 3) % (SELECT count(*) FROM documents)
           WHERE a.doc_id <> b.doc_id),
         edges AS (SELECT w AS id, w AS a, l AS b FROM pr UNION ALL SELECT l, w, l FROM pr),
         base AS (SELECT id, CAST(SUM(CASE WHEN id = a THEN 1 ELSE 0 END) AS BIGINT) AS n_wins,
                         CAST(count(*) AS BIGINT) AS n_pairs FROM edges GROUP BY id),
         p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS p FROM base),
         d1 AS (SELECT e.id, CAST(SUM(1000000000000 // (pa.p + pb.p)) AS BIGINT) AS den
                FROM edges e JOIN p0 pa ON pa.id = e.a JOIN p0 pb ON pb.id = e.b GROUP BY e.id),
         p1 AS (SELECT base.id, CAST(least(greatest(((base.n_wins + 1) * 1000000000000) //
                  (d1.den + 1000000000000 // (p0.p + 1000000)), 1000), 1000000000) AS BIGINT) AS p
                FROM base JOIN d1 USING (id) JOIN p0 USING (id)),
         d2 AS (SELECT e.id, CAST(SUM(1000000000000 // (pa.p + pb.p)) AS BIGINT) AS den
                FROM edges e JOIN p1 pa ON pa.id = e.a JOIN p1 pb ON pb.id = e.b GROUP BY e.id),
         p2 AS (SELECT base.id, CAST(least(greatest(((base.n_wins + 1) * 1000000000000) //
                  (d2.den + 1000000000000 // (p1.p + 1000000)), 1000), 1000000000) AS BIGINT) AS p
                FROM base JOIN d2 USING (id) JOIN p1 USING (id)),
         d3 AS (SELECT e.id, CAST(SUM(1000000000000 // (pa.p + pb.p)) AS BIGINT) AS den
                FROM edges e JOIN p2 pa ON pa.id = e.a JOIN p2 pb ON pb.id = e.b GROUP BY e.id),
         p3 AS (SELECT base.id, CAST(least(greatest(((base.n_wins + 1) * 1000000000000) //
                  (d3.den + 1000000000000 // (p2.p + 1000000)), 1000), 1000000000) AS BIGINT) AS p
                FROM base JOIN d3 USING (id) JOIN p2 USING (id))
         SELECT base.id AS doc_id, base.n_wins, base.n_pairs, p3.p AS score_micros
         FROM base JOIN p3 USING (id) ORDER BY doc_id""",
    "q_summarize_onestep" ->
      """SELECT doc_id,
                substr('Summarize:' || chr(10) || substr(text, 1, 10000), 1, 80) AS summary
         FROM documents ORDER BY doc_id""",
    "q_plan_topk" ->
      """SELECT source AS key, count(*) AS count FROM documents
         WHERE contains(lower(lang), 'en')
         GROUP BY source ORDER BY count DESC, key LIMIT 3""",
    "q_plan_groupby" ->
      """SELECT lang AS key, count(*) AS count FROM documents
         GROUP BY lang ORDER BY key""",
    "q_plan_filter_count" ->
      """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS value FROM orders
         WHERE o_totalprice BETWEEN 50000 AND 150000""",
    "q_plan_filter_date" ->
      """SELECT CAST(count(*) AS BIGINT) AS value FROM orders
         WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                               AND TIMESTAMP '1996-12-31 23:59:59'""",
    "q_plan_math" ->
      """SELECT CAST(count(*) AS DOUBLE) /
                (SELECT count(*) FROM orders) AS value FROM lineitem""",
    "q_plan_fieldin" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
         ORDER BY c_custkey""",
    "q_nlq_topk" ->
      """SELECT source AS key, count(*) AS count FROM documents
         WHERE contains(lower(lang), 'en')
         GROUP BY source ORDER BY count DESC, key LIMIT 3""",
    "q_nlq_summarize" ->
      """SELECT substr('Answer the question using the data below.' || chr(10) ||
                       'Question: how many orders are there' || chr(10) ||
                       'Input 1: ' || CAST(count(*) AS VARCHAR), 1, 64) AS answer
         FROM orders""",
    "q_nlq_bool" ->
      // should is scoring-only alongside must (Lucene bool): no WHERE term
      """SELECT o_orderstatus AS key, count(*) AS count FROM orders
         WHERE o_totalprice >= 50000 AND o_totalprice <= 150000
           AND o_orderstatus <> 'P'
         GROUP BY 1 ORDER BY count DESC, key LIMIT 2""",
    "q_nlq_vector" -> {
      // the HashEmbedder embedding of the one-token phrase "spark" is an
      // exact one-hot ±1 at floorMod(murmur3(tok), 64) — literalized here
      // so the oracle replays the identical query vector (q_ann pattern)
      val h = scala.util.hashing.MurmurHash3.stringHash("spark")
      val idx1 = math.floorMod(h, 64) + 1 // 1-based list index
      val sign = if (((h >>> 16) & 1) == 0) "1.0" else "-1.0"
      s"""WITH q AS (SELECT list_transform(range(1, 65),
                       i -> CASE WHEN i = $idx1 THEN $sign ELSE 0.0 END) AS qv),
          top AS (SELECT vec_id FROM embeddings, q
                  ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv) DESC,
                           vec_id LIMIT 8)
          SELECT vec_id FROM top ORDER BY vec_id"""
    },
    "q_nlq_count_distinct" ->
      """SELECT CAST(count(DISTINCT source) AS DOUBLE) AS value
         FROM documents WHERE contains(text, 'spark')""",
    "q_nlq_retry" ->
      """SELECT CAST(count(*) AS DOUBLE) AS value
         FROM customer WHERE c_mktsegment = 'BUILDING'""",
    "q_nlq_kmeans" ->
      // cluster sizes == per-language counts when K = #distinct langs
      // (one centroid per distinct embedded point); ids are arbitrary so
      // only the sorted sizes are contractual
      """SELECT CAST(count(*) AS BIGINT) AS n
         FROM documents GROUP BY lang ORDER BY n""",
    "q_pii_iban" ->
      // the mod-97 left fold replayed via list_reduce: each char pre-maps
      // to width*1000+value (digit -> one *10 step, letter -> one *100
      // step) and a prepended 0 seeds the accumulator (DuckDB's
      // list_reduce uses the first element as the initial value)
      """WITH t AS (
           SELECT doc_id,
                  'DE' || lpad(CAST(doc_id % 97 AS VARCHAR), 2, '0') ||
                    lpad(CAST((doc_id * 7919) % 1000000000000000000 AS VARCHAR),
                         18, '0') AS iban
           FROM documents),
         m AS (SELECT doc_id, iban,
                      substr(iban, 5) || substr(iban, 1, 4) AS re FROM t)
         SELECT doc_id, iban,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(str_split(re, ''),
                      ch -> CAST(CASE WHEN ascii(ch) BETWEEN 48 AND 57
                                      THEN 10000 + ascii(ch) - 48
                                      ELSE 100000 + ascii(ch) - 55 END AS BIGINT))),
                  (acc, x) -> (acc * (x // 1000) + x % 1000) % 97) = 1 AS valid
         FROM m ORDER BY doc_id""",
    "q_markdown" ->
      // concatenation replay of the renderer: title / narrative (dropped
      // when empty — the renderer filters empty blocks) / list item /
      // 2x2 header table / caption, joined by blank lines
      """SELECT doc_id,
           '# Doc ' || doc_id ||
           CASE WHEN text <> '' THEN chr(10) || chr(10) || text ELSE '' END ||
           chr(10) || chr(10) || '- id ' || doc_id ||
           chr(10) || chr(10) ||
           '| k | v |' || chr(10) || '| --- | --- |' || chr(10) ||
           '| doc | ' || doc_id || ' |' ||
           chr(10) || chr(10) || '*caption ' || doc_id || '*' AS md
         FROM documents ORDER BY doc_id""",
    "q_standardize" -> {
      // the full-name list literal rides in SORTED-ABBREVIATION order,
      // mirroring the Spark side's abbrs indexing
      val names = graft.operators.Standardizers.UsStates.toSeq.sortBy(_._1)
        .map(_._2).map(n => s"'$n'").mkString(", ")
      s"""SELECT doc_id,
            'City ' || (doc_id % 100) || ', ' ||
              ([$names])[CAST(doc_id % 50 AS INT) + 1] AS location,
            CASE CAST(doc_id % 3 AS INT)
              WHEN 0 THEN '2023-07-01T00:00'
              WHEN 1 THEN '2023-07-15T10:30'
              ELSE '2021-03-05T00:00' END AS event_iso,
            CASE CAST(doc_id % 3 AS INT)
              WHEN 0 THEN '2023-07-01'
              WHEN 1 THEN '2023-07-15'
              ELSE '2021-03-05' END AS day
          FROM documents ORDER BY doc_id"""
    },
    "q_docset_query_knn" ->
      // one-hot knn query vectors replay as list literals; the filtered arm
      // restricts to label = 1 before ranking (the fake's pre-rank filter)
      """WITH q AS (SELECT * FROM (VALUES
              ('knn_03', 4, NULL), ('knn_17', 18, NULL), ('knn_42', 43, NULL),
              ('knn_f03', 4, 1)) t(query_id, idx1, lab)),
         ranked AS (
           SELECT q.query_id, e.vec_id,
                  row_number() OVER (PARTITION BY q.query_id ORDER BY
                    list_cosine_similarity(e.embedding::DOUBLE[],
                      list_transform(range(1, 65),
                        i -> CASE WHEN i = q.idx1 THEN 1.0 ELSE 0.0 END)) DESC,
                    e.vec_id) AS rn
           FROM embeddings e, q
           WHERE q.lab IS NULL OR e.label = q.lab)
         SELECT query_id, vec_id FROM ranked WHERE rn <= 8
         ORDER BY query_id, vec_id""",
    "q_asof_join" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS c_us, event_id AS click_id
                    FROM events WHERE event_type = 'click'),
         p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
               FROM events WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, p.ts_us,
                (SELECT max(struct_pack(u := c_us, i := click_id)).u FROM c
                 WHERE c.user_id = p.user_id AND c.c_us <= p.ts_us) AS asof_ts_us,
                (SELECT max(struct_pack(u := c_us, i := click_id)).i FROM c
                 WHERE c.user_id = p.user_id AND c.c_us <= p.ts_us) AS asof_click_id
         FROM p ORDER BY p.event_id""",
    "q_percentiles" ->
      """SELECT lang,
                floor((quantile_cont(n_chars, 0.5)) * 10000.0 + 0.5) / 10000.0 AS p50,
                floor((quantile_cont(n_chars, 0.9)) * 10000.0 + 0.5) / 10000.0 AS p90,
                CAST(count(*) AS BIGINT) AS n
         FROM documents GROUP BY lang ORDER BY lang""",
    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
         WHERE list_reduce(list_prepend(0::BIGINT,
                 list_transform(
                   str_split(doc_id::VARCHAR || ':strat1:' || doc_id::VARCHAR, ''),
                   x -> ascii(x)::BIGINT)),
                 (a, b) -> (a * 31 + b) % 1000000007) % 10000
               < CASE lang WHEN 'de' THEN 5000 WHEN 'en' THEN 2000
                           WHEN 'zh' THEN 10000 END
         ORDER BY doc_id""",
    "q_cap_per_group" ->
      """WITH h AS (SELECT doc_id, source,
                      list_reduce(list_prepend(0::BIGINT,
                        list_transform(
                          str_split(doc_id::VARCHAR || ':cap1:' || doc_id::VARCHAR, ''),
                          x -> ascii(x)::BIGINT)),
                        (a, b) -> (a * 31 + b) % 1000000007) AS hv
                    FROM documents),
         r AS (SELECT doc_id, source,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY hv, doc_id) AS rn
               FROM h)
         SELECT doc_id, source FROM r WHERE rn <= 7 ORDER BY doc_id""",
    "q_source_overlap" ->
      """WITH t AS (SELECT source, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents),
         sh AS (SELECT DISTINCT source AS g, unnest(list_distinct(list_transform(
                  range(0, greatest(len(toks) - 5, 0) + 1),
                  i -> array_to_string(toks[(i+1):(i+5)], ' ')))) AS sh
                FROM t)
         SELECT a.g AS grpA, b.g AS grpB, count(*) AS shared
         FROM sh a JOIN sh b ON a.sh = b.sh AND a.g < b.g
         GROUP BY 1, 2 ORDER BY grpA, grpB""",
    "q_skew_join" ->
      """WITH dim AS (SELECT user_id,
                        CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS user_total_c
                      FROM events GROUP BY user_id)
         SELECT e.event_id, e.user_id, d.user_total_c
         FROM events e JOIN dim d ON e.user_id = d.user_id
         ORDER BY e.event_id""",
    "q_token_mixture" ->
      """WITH tk AS (SELECT lang,
                       CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) END)
                         AS BIGINT) AS toks
                     FROM documents GROUP BY lang),
         th AS (SELECT lang,
                       CAST(round(least(1.0,
                         (CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2000
                                    WHEN 'es' THEN 1000 WHEN 'zh' THEN 1000000000
                                    END)::DOUBLE / toks) * 10000) AS BIGINT) AS thr
                FROM tk
                WHERE lang IN ('en', 'de', 'es', 'zh'))
         SELECT d.doc_id, d.lang FROM documents d JOIN th ON d.lang = th.lang
         WHERE list_reduce(list_prepend(0::BIGINT,
                 list_transform(
                   str_split(d.doc_id::VARCHAR || ':mix1:' || d.doc_id::VARCHAR, ''),
                   x -> ascii(x)::BIGINT)),
                 (a, b) -> (a * 31 + b) % 1000000007) % 10000
               < th.thr
         ORDER BY d.doc_id""",
    "q_epoch_mixture" ->
      // exact integer replay: epochs-in-basis-points via `//` (matches the
      // Scala long division and the in-plan DIV), copies = full epochs +
      // the hash-gated extra, epochs unrolled with generate_series
      """WITH tot AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS t
                      FROM documents GROUP BY lang),
         e AS (SELECT lang,
                      (CASE lang WHEN 'en' THEN 2000000 WHEN 'de' THEN 120000
                                 WHEN 'fr' THEN 30000 END)::BIGINT * 10000 // t AS ebp
               FROM tot WHERE lang IN ('en', 'de', 'fr') AND t > 0),
         c AS (SELECT d.doc_id, d.lang,
                      e.ebp // 10000 +
                      CASE WHEN list_reduce(list_prepend(0::BIGINT,
                             list_transform(
                               str_split(d.doc_id::VARCHAR || ':ep1:' || d.doc_id::VARCHAR, ''),
                               x -> ascii(x)::BIGINT)),
                             (a, b) -> (a * 31 + b) % 1000000007) % 10000
                           < e.ebp % 10000 THEN 1 ELSE 0 END AS copies
               FROM documents d JOIN e USING (lang))
         SELECT doc_id, lang, CAST(unnest(generate_series(0, copies - 1)) AS BIGINT) AS epoch
         FROM c WHERE copies >= 1
         ORDER BY doc_id, epoch""",
    "q_temperature_mixture" ->
      // sumw replays the Scala foldLeft exactly: left fold from 0.0 in
      // stratum order (list_reduce, not list_sum — float + isn't
      // associative); sqrt is IEEE-exact so weights match bit for bit
      """WITH ck AS (SELECT lang, CAST(count(*) AS BIGINT) AS c
                     FROM documents GROUP BY lang),
         sw AS (SELECT list_reduce(
                    list_prepend(0.0::DOUBLE, list(sqrt(c::DOUBLE) ORDER BY lang)),
                    (a, b) -> a + b) AS sumw
                FROM ck),
         th AS (SELECT lang,
                       CAST(round(least(1.0,
                         150::DOUBLE * sqrt(c::DOUBLE) / sumw / c) * 10000) AS BIGINT) AS thr
                FROM ck, sw)
         SELECT d.doc_id, d.lang FROM documents d JOIN th USING (lang)
         WHERE list_reduce(list_prepend(0::BIGINT,
                 list_transform(
                   str_split(d.doc_id::VARCHAR || ':temp1:' || d.doc_id::VARCHAR, ''),
                   x -> ascii(x)::BIGINT)),
                 (a, b) -> (a * 31 + b) % 1000000007) % 10000
               < th.thr
         ORDER BY d.doc_id""",
    "q_dedup_cc" ->
      """WITH RECURSIVE
         base AS (SELECT doc_id AS u,
                         lead(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS v
                  FROM documents),
         edges AS (SELECT u, v FROM base WHERE v IS NOT NULL
                   UNION ALL SELECT v, u FROM base WHERE v IS NOT NULL),
         reach(u, v) AS (
           SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges)
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         SELECT u AS id, CAST(min(v) AS BIGINT) AS component
         FROM reach GROUP BY u ORDER BY id""",
    "q_group_split" ->
      """WITH RECURSIVE
         ids AS (SELECT doc_id FROM documents),
         e0 AS (SELECT a.doc_id AS u, b.doc_id AS v
                FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 1
                WHERE a.doc_id % 5 <> 4),
         edges AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
         reach(u, v) AS (
           SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges)
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         comp AS (SELECT u AS id, CAST(min(v) AS BIGINT) AS component
                  FROM reach GROUP BY u),
         g AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS group_id
               FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         h AS (SELECT doc_id, group_id,
                 list_reduce(list_prepend(0::BIGINT,
                   list_transform(
                     str_split(group_id::VARCHAR || ':gsplit:' || group_id::VARCHAR, ''),
                     x -> ascii(x)::BIGINT)),
                   (a, b) -> (a * 31 + b) % 1000000007) % 10000 AS bkt
               FROM g)
         SELECT doc_id, group_id,
                CASE WHEN bkt < 8000 THEN 'train'
                     WHEN bkt < 9000 THEN 'val' ELSE 'test' END AS split
         FROM h ORDER BY doc_id""",
    "q_line_dedup" ->
      """WITH l AS (SELECT doc_id, unnest(string_split(text, ' table ')) AS line,
                           generate_subscripts(string_split(text, ' table '), 1) AS pos
                    FROM documents),
         hot AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 3),
         kept AS (SELECT doc_id, pos, line FROM l
                  WHERE line NOT IN (SELECT line FROM hot))
         SELECT d.doc_id,
                coalesce(string_agg(k.line, ' table ' ORDER BY k.pos), '') AS text
         FROM documents d LEFT JOIN kept k USING (doc_id)
         GROUP BY d.doc_id ORDER BY d.doc_id""",
    "q_decontaminate" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(0, greatest(len(toks) - 4, 0) + 1),
                  i -> array_to_string(toks[(i+1):(i+4)], ' ')))) AS sh
                FROM t),
         bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 53 = 0),
         contaminated AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (sh)
                          WHERE s.doc_id % 53 <> 0)
         SELECT doc_id, lang FROM documents
         WHERE doc_id % 53 <> 0
           AND doc_id NOT IN (SELECT doc_id FROM contaminated)
         ORDER BY doc_id""",
    "q_decontaminate_bloom" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(0, greatest(len(toks) - 4, 0) + 1),
                  i -> array_to_string(toks[(i+1):(i+4)], ' ')))) AS sh
                FROM t),
         bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 53 = 0),
         contaminated AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (sh)
                          WHERE s.doc_id % 53 <> 0)
         SELECT doc_id, lang FROM documents
         WHERE doc_id % 53 <> 0
           AND doc_id NOT IN (SELECT doc_id FROM contaminated)
         ORDER BY doc_id""",
    "q_bm25" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents),
         base AS (SELECT doc_id, toks, len(toks) AS dl FROM t),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl,
           CAST(sum(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
           CAST(sum(CASE WHEN list_contains(toks, 'shuffle') THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
           CAST(sum(CASE WHEN list_contains(toks, 'window') THEN 1 ELSE 0 END) AS DOUBLE) AS df2
           FROM base)
         SELECT doc_id, floor((ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
               * CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) * (1.2 + 1.0)
               / (CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE)
                  + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (sumdl / n)))
           + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
               * CAST(len(list_filter(toks, x -> x = 'shuffle')) AS DOUBLE) * (1.2 + 1.0)
               / (CAST(len(list_filter(toks, x -> x = 'shuffle')) AS DOUBLE)
                  + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (sumdl / n)))
           + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
               * CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) * (1.2 + 1.0)
               / (CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE)
                  + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (sumdl / n)))) * 10000.0 + 0.5) / 10000.0 AS bm25
         FROM base, stats ORDER BY doc_id""",
    "q_simhash_pairs" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents),
         h AS (SELECT doc_id, list_transform(toks, tok ->
                 list_reduce(list_prepend(0::BIGINT,
                   list_transform(str_split(tok, ''), ch -> ascii(ch)::BIGINT)),
                   (a, c) -> (a * 31 + c) % 2147483647)) AS hs
               FROM t),
         s AS (SELECT doc_id,
                 CAST(list_sum(list_transform(range(0, 31), b ->
                   CASE WHEN 2 * len(list_filter(hs, x -> ((x >> b) & 1) = 1)) > len(hs)
                        THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS sh
               FROM h)
         SELECT a.doc_id AS idA, b.doc_id AS idB,
                CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh, b.sh)) <= 2
         ORDER BY idA, idB""",
    "q_clustering" ->
      """WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                    FROM embeddings WHERE vec_id < 4),
         a AS (SELECT e.vec_id,
                      min(struct_pack(d := list_distance(e.embedding::DOUBLE[], c.cv),
                                      cid := c.cid)) AS best
               FROM embeddings e CROSS JOIN c GROUP BY e.vec_id)
         SELECT CAST(best.cid AS BIGINT) AS cluster, count(*) AS n
         FROM a GROUP BY 1 ORDER BY cluster""",
    "q_rerank" ->
      """SELECT doc_id,
                CAST(len(list_filter(['spark','join','fast'], w -> contains(text, w)))
                     AS DOUBLE) AS score
         FROM documents ORDER BY score DESC, doc_id""",
    "q_ann_bruteforce" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         top AS (SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], qv) AS c
                 FROM embeddings, q ORDER BY c DESC, vec_id LIMIT 10)
         SELECT vec_id, floor((c) * 1000000.0 + 0.5) / 1000000.0 AS cosine FROM top ORDER BY cosine DESC, vec_id""",
    "q_ann_pq" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         cb AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                FROM embeddings WHERE vec_id < 16),
         codes AS (
           SELECT e.vec_id, sp.s,
                  min(struct_pack(
                    d := list_sum(list_transform(range(1, 9), i ->
                      (e.embedding[sp.s*8 + i]::DOUBLE - c.cv[sp.s*8 + i]) *
                      (e.embedding[sp.s*8 + i]::DOUBLE - c.cv[sp.s*8 + i]))),
                    cid := c.cid)) AS best
           FROM embeddings e CROSS JOIN cb c
                CROSS JOIN (SELECT unnest(range(0, 8)) AS s) sp
           GROUP BY e.vec_id, sp.s),
         subdist AS (
           SELECT codes.vec_id, codes.s,
                  list_sum(list_transform(range(1, 9), i ->
                    (q.qv[codes.s*8 + i] - c.cv[codes.s*8 + i]) *
                    (q.qv[codes.s*8 + i] - c.cv[codes.s*8 + i]))) AS dist
           FROM codes, cb c, q WHERE c.cid = codes.best.cid),
         adc AS (SELECT vec_id, list_sum(list(dist ORDER BY s)) AS adc_dist
                 FROM subdist GROUP BY vec_id),
         top AS (SELECT vec_id, adc_dist FROM adc
                 ORDER BY adc_dist ASC, vec_id LIMIT 10)
         SELECT vec_id, floor((adc_dist) * 1000000.0 + 0.5) / 1000000.0 AS adc_dist FROM top
         ORDER BY adc_dist, vec_id""",
    "q_ann_ivf" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
               FROM embeddings WHERE vec_id < 16),
         probe AS (SELECT cid FROM c, q
                   ORDER BY list_cosine_similarity(cv, qv) DESC, cid LIMIT 4),
         a AS (SELECT e.vec_id,
                      min(struct_pack(d := list_distance(e.embedding::DOUBLE[], c.cv),
                                      cid := c.cid)) AS best
               FROM embeddings e CROSS JOIN c GROUP BY e.vec_id),
         top AS (SELECT e.vec_id,
                        list_cosine_similarity(e.embedding::DOUBLE[], qv) AS cos
                 FROM embeddings e JOIN a ON e.vec_id = a.vec_id, q
                 WHERE a.best.cid IN (SELECT cid FROM probe)
                 ORDER BY cos DESC, e.vec_id LIMIT 10)
         SELECT vec_id, floor((cos) * 1000000.0 + 0.5) / 1000000.0 AS cosine FROM top
         ORDER BY cosine DESC, vec_id""",
    "q_sql_surface" ->
      """WITH t AS (SELECT doc_id, text,
                           regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents),
         s AS (SELECT doc_id, list_sort([
                 struct_pack(score := len(list_filter(toks, x -> list_contains(
                   ['der','die','das','und','ist','von','mit','den','dem','ein','eine','nicht','auf'], x))), lang := 'de'),
                 struct_pack(score := len(list_filter(toks, x -> list_contains(
                   ['the','a','of','and','to','in','is','that','it','for','with','was','this'], x))), lang := 'en'),
                 struct_pack(score := len(list_filter(toks, x -> list_contains(
                   ['el','la','de','que','y','en','un','una','los','las','por','con','para'], x))), lang := 'es'),
                 struct_pack(score := len(list_filter(toks, x -> list_contains(
                   ['le','la','les','de','des','et','un','une','du','que','pour','dans','est'], x))), lang := 'fr'),
                 struct_pack(score := len(list_filter(toks, x -> list_contains(
                   ['的','了','是','在','我','有','他','这','不','就'], x))), lang := 'zh')])[-1] AS best
               FROM t)
         SELECT t.doc_id,
                CAST(CASE WHEN length(trim(t.text)) = 0 THEN 0 ELSE len(t.toks) END AS BIGINT) AS n_ws,
                CAST(list_reduce(list_prepend(0::BIGINT, list_transform(str_split(t.text, ''), x -> ascii(x)::BIGINT)),
                     (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS fp,
                CASE WHEN s.best.score > 0 THEN s.best.lang ELSE 'und' END AS lang_detected,
                floor((CASE WHEN length(t.text) = 0 THEN 0.0
                      ELSE CAST(length(t.text) - length(regexp_replace(t.text, '[a-zA-Z]', '', 'g')) AS DOUBLE)
                           / length(t.text) END) * 1000000.0 + 0.5) / 1000000.0 AS alpha_ratio
         FROM t JOIN s ON t.doc_id = s.doc_id
         ORDER BY t.doc_id""",
    "q_unigram_logprob" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                                     t -> length(t) > 0)) AS tok
           FROM documents),
         tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY doc_id, tok),
         vocab AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY tok),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vocab),
         per AS (SELECT tf.doc_id,
                        CAST(sum(tf.tf) AS BIGINT) AS n_toks,
                        floor((CAST(sum(tf.tf * (length(bin(tot.n)) - length(bin(vocab.c)))) AS DOUBLE)
                              / sum(tf.tf)) * 1000000.0 + 0.5) / 1000000.0 AS mean_bits,
                        floor((CAST(sum(CASE WHEN vocab.c = 1 THEN tf.tf ELSE 0 END) AS DOUBLE)
                              / sum(tf.tf)) * 1000000.0 + 0.5) / 1000000.0 AS rare_frac
                 FROM tf JOIN vocab USING (tok), tot
                 GROUP BY tf.doc_id)
         SELECT d.doc_id, per.n_toks, per.mean_bits, per.rare_frac
         FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         ORDER BY d.doc_id""",
    "q_url_domains" -> {
      val sfx = graft.functions.gf.MultiPartSuffixes
        .map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH u AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 4 = 0
                         THEN 'https://www.shop' || (doc_id % 50) || '.co.uk/item/' || doc_id
                       WHEN doc_id % 4 = 1
                         THEN 'http://user:pw@News' || (doc_id % 30) || '.Example.com:8080/p?q=1'
                       WHEN doc_id % 4 = 2
                         THEN 'https://static.cdn' || (doc_id % 20) || '.io/x#frag'
                       ELSE 'not a url ' || doc_id END AS url
           FROM documents),
         h AS (SELECT doc_id, url,
                      lower(list_extract(string_split(list_extract(string_split(
                        regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
                        '@'), -1), ':'), 1)) AS host
               FROM u),
         d AS (SELECT doc_id, url, host, string_split(host, '.') AS ls,
                      len(string_split(host, '.')) AS n
               FROM h)
         SELECT doc_id, url, host,
                CASE WHEN host = '' THEN ''
                     WHEN n >= 3 AND list_contains($sfx, ls[n-1] || '.' || ls[n])
                       THEN ls[n-2] || '.' || ls[n-1] || '.' || ls[n]
                     WHEN n >= 2 THEN ls[n-1] || '.' || ls[n]
                     ELSE host END AS domain
         FROM d ORDER BY doc_id"""
    },
    "q_domain_reputation" -> {
      val sfx = graft.functions.gf.MultiPartSuffixes
        .map(x => s"'$x'").mkString("[", ", ", "]")
      s"""WITH u AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 4 = 0
                         THEN 'https://www.shop' || (doc_id % 50) || '.co.uk/item/' || doc_id
                       WHEN doc_id % 4 = 1
                         THEN 'http://user:pw@News' || (doc_id % 30) || '.Example.com:8080/p?q=1'
                       WHEN doc_id % 4 = 2
                         THEN 'https://static.cdn' || (doc_id % 20) || '.io/x#frag'
                       ELSE 'not a url ' || doc_id END AS url,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+')) END AS sig
           FROM documents),
         h AS (SELECT doc_id, sig,
                      lower(list_extract(string_split(list_extract(string_split(
                        regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
                        '@'), -1), ':'), 1)) AS host
               FROM u),
         d AS (SELECT doc_id, sig, string_split(host, '.') AS ls,
                      len(string_split(host, '.')) AS n, host
               FROM h),
         dm AS (SELECT doc_id, sig,
                CASE WHEN host = '' THEN ''
                     WHEN n >= 3 AND list_contains($sfx, ls[n-1] || '.' || ls[n])
                       THEN ls[n-2] || '.' || ls[n-1] || '.' || ls[n]
                     WHEN n >= 2 THEN ls[n-1] || '.' || ls[n]
                     ELSE host END AS domain
                FROM d),
         g AS (SELECT domain, CAST(count(*) AS BIGINT) AS domain_docs,
                      CAST(sum(sig) AS BIGINT) AS s FROM dm GROUP BY domain)
         SELECT dm.doc_id, dm.domain, g.domain_docs,
                CAST((g.s * 1000) // g.domain_docs AS BIGINT) AS domain_avg_milli,
                g.s * 1000 >= 54000 * g.domain_docs AS domain_keep
         FROM dm JOIN g ON dm.domain = g.domain
         ORDER BY dm.doc_id""".stripMargin
    },
    "q_strip_templates" ->
      """WITH d AS (SELECT doc_id, 'd' || (doc_id % 7) AS dom,
                  'banner of d' || (doc_id % 7) || chr(10) || text ||
                  CASE WHEN doc_id % 5 = 0 THEN ''
                       ELSE chr(10) || 'contact d' || (doc_id % 7) END AS t
           FROM documents),
         l AS (SELECT doc_id, dom,
                      unnest(string_split(t, chr(10))) AS line,
                      generate_subscripts(string_split(t, chr(10)), 1) AS pos
               FROM d),
         tpl AS (SELECT dom, line FROM l WHERE length(trim(line)) > 0
                 GROUP BY dom, line HAVING count(DISTINCT doc_id) >= 3)
         SELECT l.doc_id,
                coalesce(string_agg(CASE WHEN tpl.line IS NULL THEN l.line END,
                  chr(10) ORDER BY l.pos), '') AS clean_text,
                CAST(count(*) AS BIGINT) AS n_lines,
                CAST(count(tpl.line) AS BIGINT) AS n_removed
         FROM l LEFT JOIN tpl ON l.dom = tpl.dom AND l.line = tpl.line
         GROUP BY l.doc_id ORDER BY l.doc_id""",
    "q_robots" -> {
      // the CASE chain is rendered from the SAME parsed+sorted rule table
      // the engine evaluates (the MojibakeRepair oracle pattern)
      val rules = graft.operators.Robots.parse(RobotsFixture, "graftbot")
      s"""WITH p AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 5 = 0 THEN '/private/press/item' || doc_id
                       WHEN doc_id % 5 = 1 THEN '/private/doc' || doc_id
                       WHEN doc_id % 5 = 2 THEN '/tmp/cache' || doc_id
                       WHEN doc_id % 5 = 3 THEN '/public/page' || doc_id
                       ELSE '/private' || doc_id END AS path
           FROM documents)
         SELECT doc_id, path,
                ${graft.operators.Robots.sqlOracle("path", rules)} AS allowed
         FROM p ORDER BY doc_id"""
    },
    "q_url_canonical" -> {
      val track = graft.functions.gf.TrackingParams
        .map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH u AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 4 = 0
                         THEN 'HTTPS://WWW.Shop' || (doc_id % 50) || '.COM:443/items/'
                              || doc_id || '/?utm_source=mail&b=2&a=1#top'
                       WHEN doc_id % 4 = 1
                         THEN 'http://News' || (doc_id % 30) || '.example.com:8080/p/?z=9&fbclid=x&y=2'
                       WHEN doc_id % 4 = 2
                         THEN 'https://cdn' || (doc_id % 20) || '.io:80/'
                       ELSE 'plain text ' || doc_id END AS url
           FROM documents),
         c AS (SELECT doc_id, url,
                      lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
                      list_extract(string_split(
                        regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
                        '@'), -1) AS hostport,
                      regexp_replace(
                        regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                        '/$$', '') AS path,
                      regexp_extract(url, '^[^#?]*\\?([^#]*)', 1) AS query
               FROM u),
         d AS (SELECT doc_id, url, scheme, path,
                      regexp_replace(lower(list_extract(string_split(hostport, ':'), 1)),
                                     '^www\\.', '') AS host,
                      regexp_extract(hostport, ':(\\d+)$$', 1) AS port,
                      array_to_string(list_sort(list_filter(string_split(query, '&'),
                        p -> p <> ''
                          AND NOT starts_with(list_extract(string_split(p, '='), 1), 'utm_')
                          AND NOT list_contains($track, list_extract(string_split(p, '='), 1)))),
                        '&') AS qs
               FROM c)
         SELECT doc_id, url,
                CASE WHEN scheme = '' THEN url
                     ELSE scheme || '://' || host
                          || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                                    OR (scheme = 'https' AND port = '443') THEN ''
                                  ELSE ':' || port END
                          || path
                          || CASE WHEN coalesce(qs, '') = '' THEN '' ELSE '?' || qs END
                END AS canon
         FROM d ORDER BY doc_id"""
    },
    "q_ccnet_buckets" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                                     t -> length(t) > 0)) AS tok
           FROM documents),
         tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY doc_id, tok),
         vocab AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY tok),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vocab),
         per AS (SELECT tf.doc_id,
                        CAST(sum(tf.tf) AS BIGINT) AS n_toks,
                        floor((CAST(sum(tf.tf * (length(bin(tot.n)) - length(bin(vocab.c)))) AS DOUBLE)
                              / sum(tf.tf)) * 1000000.0 + 0.5) / 1000000.0 AS mean_bits
                 FROM tf JOIN vocab USING (tok), tot
                 GROUP BY tf.doc_id),
         scored AS (SELECT d.doc_id, d.lang, per.n_toks, per.mean_bits,
                           COALESCE(per.mean_bits, 1e9) AS k
                    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id),
         r AS (SELECT doc_id, lang, n_toks, mean_bits,
                      row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) - 1 AS rank0,
                      count(*) OVER (PARTITION BY lang) AS n
               FROM scored)
         SELECT doc_id, lang, n_toks, mean_bits,
                CASE WHEN n > 1 THEN floor((CAST(rank0 AS DOUBLE) / (n - 1)) * 1000000.0 + 0.5) / 1000000.0
                     ELSE 0.0 END AS pctl,
                CAST(least(floor(CASE WHEN n > 1
                        THEN floor((CAST(rank0 AS DOUBLE) / (n - 1)) * 1000000.0 + 0.5) / 1000000.0
                        ELSE 0.0 END * 3), 2) AS BIGINT) AS bucket
         FROM r ORDER BY doc_id""",
    "q_bigram_logprob" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents),
         pairs AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
                   FROM t, unnest(range(1, len(toks))) AS u(i)
                   WHERE len(toks) >= 2),
         bf AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS bf
                FROM pairs GROUP BY doc_id, bg),
         vocab AS (SELECT bg, CAST(sum(bf) AS BIGINT) AS c2 FROM bf GROUP BY bg),
         ctx AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
                 FROM vocab GROUP BY 1),
         per AS (SELECT bf.doc_id,
                        CAST(sum(bf.bf) AS BIGINT) AS n_bigrams,
                        floor((CAST(sum(bf.bf * (length(bin(ctx.c1)) - length(bin(vocab.c2)))) AS DOUBLE)
                              / sum(bf.bf)) * 1000000.0 + 0.5) / 1000000.0 AS mean_bits,
                        floor((CAST(sum(CASE WHEN vocab.c2 = 1 THEN bf.bf ELSE 0 END) AS DOUBLE)
                              / sum(bf.bf)) * 1000000.0 + 0.5) / 1000000.0 AS novel_frac
                 FROM bf JOIN vocab USING (bg)
                         JOIN ctx ON split_part(bf.bg, ' ', 1) = ctx.w1
                 GROUP BY bf.doc_id)
         SELECT d.doc_id, per.n_bigrams, per.mean_bits, per.novel_frac
         FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         ORDER BY d.doc_id""",
    "q_fuzzy_join" ->
      // quadratic replay of the prefix-filtered join: the filter is an
      // exactness-preserving optimization, so brute force must agree
      """WITH tk AS (SELECT doc_id,
                list_slice(list_filter(
                  regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                  x -> length(x) > 0), 1, 12) AS toks
              FROM documents),
         t AS (SELECT doc_id,
                list_distinct(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i+1])) AS ts
               FROM tk WHERE len(toks) >= 2),
         a AS (SELECT * FROM t WHERE doc_id % 2 = 0 AND len(ts) > 0),
         b AS (SELECT * FROM t WHERE doc_id % 2 = 1 AND len(ts) > 0),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                      CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
                      CAST(len(a.ts) + len(b.ts)
                           - len(list_intersect(a.ts, b.ts)) AS BIGINT) AS uni
               FROM a, b)
         SELECT id_a, id_b, inter, uni,
                floor((CAST(inter AS DOUBLE) / uni) * 1000000.0 + 0.5) / 1000000.0 AS jac
         FROM p WHERE inter * 2 >= uni
         ORDER BY id_a, id_b""",
    "q_jaro_winkler" ->
      """SELECT doc_id,
                floor((jaro_winkler_similarity(substr(lower(text), 1, 24),
                                              substr(lower(text), 5, 24))) * 1000000.0 + 0.5) / 1000000.0 AS jw
         FROM documents ORDER BY doc_id""",
    "q_edit_join" ->
      // quadratic replay: segment pruning is exactness-preserving, so the
      // brute-force cross join must agree pair for pair
      """WITH s AS (SELECT doc_id, substr(lower(text), 1, 24) AS p
                    FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist
         FROM s a JOIN s b
           ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
          AND levenshtein(a.p, b.p) <= 2
         ORDER BY id_a, id_b""",
    "q_sorted_blocking" ->
      // window pairs via rank difference; Spark's two-phase global rank
      // orders by (key, doc_id) exactly like this row_number
      """WITH r AS (SELECT doc_id, lower(substr(text, 1, 20)) AS k,
                  row_number() OVER (ORDER BY lower(substr(text, 1, 20)), doc_id) - 1 AS rank0
           FROM documents)
         SELECT x.doc_id AS id_a, y.doc_id AS id_b, x.k AS key_a, y.k AS key_b,
                CAST(y.rank0 - x.rank0 AS BIGINT) AS dist
         FROM r x JOIN r y ON y.rank0 - x.rank0 BETWEEN 1 AND 2
         ORDER BY id_a, id_b""",
    "q_moments" ->
      """WITH a AS (SELECT l_returnflag AS g, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS DOUBLE) AS d1,
                CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS d2,
                CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(l_extendedprice * 100) AS BIGINT)
                       * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS d3,
                CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(l_extendedprice * 100) AS BIGINT)
                       * CAST(round(l_extendedprice * 100) AS BIGINT)
                       * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS d4
         FROM lineitem GROUP BY 1),
         m AS (SELECT g, n,
                d1 / n AS mean,
                d2 / n - (d1 / n) * (d1 / n) AS m2,
                d3 / n - 3.0 * (d1 / n) * (d2 / n) + 2.0 * (d1 / n) * (d1 / n) * (d1 / n) AS m3,
                d4 / n - 4.0 * (d1 / n) * (d3 / n)
                  + 6.0 * (d1 / n) * (d1 / n) * (d2 / n)
                  - 3.0 * (d1 / n) * (d1 / n) * (d1 / n) * (d1 / n) AS m4
               FROM a)
         SELECT g AS "group", n, floor((mean) * 1000000.0 + 0.5) / 1000000.0 AS mean, floor((m2) * 1000000.0 + 0.5) / 1000000.0 AS m2,
                floor((CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS skewness,
                floor((CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS kurtosis
         FROM m ORDER BY "group"""",
    "q_robust_outliers" ->
      """WITH b AS (SELECT l_returnflag AS g,
                CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                l_orderkey * 10 + l_linenumber AS u
         FROM lineitem),
         r1 AS (SELECT *, row_number() OVER (PARTITION BY g ORDER BY v, u) AS rn,
                       count(*) OVER (PARTITION BY g) AS n FROM b),
         m1 AS (SELECT g, CAST(sum(CASE WHEN n % 2 = 1 AND rn = (n + 1) // 2 THEN v * 2
                              WHEN rn = (n + 1) // 2 OR rn = n // 2 + 1 THEN v END)
                     AS BIGINT) AS med2
                FROM r1 GROUP BY g),
         d AS (SELECT b.g, b.v, b.u, abs(b.v * 2 - m1.med2) AS dv, m1.med2
               FROM b JOIN m1 ON b.g = m1.g),
         r2 AS (SELECT *, row_number() OVER (PARTITION BY g ORDER BY dv, u) AS rn,
                       count(*) OVER (PARTITION BY g) AS n FROM d),
         m2 AS (SELECT g, CAST(sum(CASE WHEN n % 2 = 1 AND rn = (n + 1) // 2 THEN dv * 2
                              WHEN rn = (n + 1) // 2 OR rn = n // 2 + 1 THEN dv END)
                     AS BIGINT) AS mad4
                FROM r2 GROUP BY g)
         SELECT d.g AS "group", CAST(count(*) AS BIGINT) AS n,
                max(d.med2) AS med2, CAST(max(m2.mad4) AS BIGINT) AS mad4,
                CAST(sum(CASE WHEN d.dv * 20000 > m2.mad4 * 44478 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_outliers
         FROM d JOIN m2 ON d.g = m2.g
         GROUP BY d.g ORDER BY "group"""",
    "q_event_anomaly" ->
      // cross-multiplied two-sided z-test: (n*x - S)^2 > 9*(n*SS - S^2);
      // HUGEINT on this side, decimal(38,0) on Spark's - both exact
      """WITH c AS (SELECT event_type,
                           epoch_ns(ts) - epoch_ns(ts) % 3600000000000 AS bucket_ns,
                           CAST(count(*) AS BIGINT) AS x
                    FROM events GROUP BY 1, 2),
         st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(x) AS BIGINT) AS s, CAST(sum(x * x) AS BIGINT) AS ss
                FROM c GROUP BY 1)
         SELECT c.event_type, c.bucket_ns, c.x AS n_events,
                (st.n::HUGEINT * c.x - st.s) * (st.n::HUGEINT * c.x - st.s)
                  > 9 * (st.n::HUGEINT * st.ss - st.s::HUGEINT * st.s) AS anomalous
         FROM c JOIN st USING (event_type) ORDER BY event_type, bucket_ns""",
    "q_markov_transitions" ->
      """WITH p AS (SELECT event_type AS f,
                           lead(event_type) OVER
                             (PARTITION BY user_id ORDER BY ts, event_id) AS t
                    FROM events),
         tr AS (SELECT f AS from_type, t AS to_type, CAST(count(*) AS BIGINT) AS n
                FROM p WHERE t IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS total_from
                 FROM tr GROUP BY 1)
         SELECT tr.from_type, tr.to_type, tr.n, tot.total_from,
                floor((tr.n::DOUBLE / tot.total_from) * 1000000.0 + 0.5) / 1000000.0 AS p
         FROM tr JOIN tot USING (from_type) ORDER BY from_type, to_type""",
    "q_trigram_backoff" ->
      // train counts on the even-doc_id half; 1-based toks[i], trigram
      // positions i ∈ [1, len-2]; blen = length(bin(x)) = floor(log2)+1,
      // +2 bits per backed-off level, OOV = blen(N)+4 (see TrigramLm)
      """WITH tr AS (SELECT regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                     FROM documents WHERE doc_id % 2 = 0),
         tri AS (SELECT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS tg,
                        CAST(count(*) AS BIGINT) AS c3
                 FROM tr, unnest(range(1, len(toks) - 1)) AS u(i)
                 WHERE len(toks) >= 3 GROUP BY tg),
         bi AS (SELECT toks[i] || ' ' || toks[i+1] AS bg, CAST(count(*) AS BIGINT) AS cb
                FROM tr, unnest(range(1, len(toks))) AS u(i)
                WHERE len(toks) >= 2 GROUP BY bg),
         uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS cu
                 FROM (SELECT unnest(toks) AS tok FROM tr) t
                 WHERE length(tok) > 0 GROUP BY tok),
         tot AS (SELECT CAST(sum(cu) AS BIGINT) AS n FROM uni),
         allt AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                  FROM documents),
         inst AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS tg,
                         CAST(count(*) AS BIGINT) AS tf
                  FROM allt, unnest(range(1, len(toks) - 1)) AS u(i)
                  WHERE len(toks) >= 3 GROUP BY doc_id, tg),
         parts AS (SELECT tg, split_part(tg, ' ', 1) AS w1, split_part(tg, ' ', 2) AS w2,
                          split_part(tg, ' ', 3) AS w3
                   FROM (SELECT DISTINCT tg FROM inst)),
         sv AS (SELECT p.tg,
                  CASE WHEN t3.c3 IS NOT NULL THEN length(bin(b12.cb)) - length(bin(t3.c3))
                       WHEN b23.cb IS NOT NULL THEN length(bin(u2.cu)) - length(bin(b23.cb)) + 2
                       WHEN u3.cu IS NOT NULL THEN length(bin(tot.n)) - length(bin(u3.cu)) + 4
                       ELSE length(bin(tot.n)) + 4 END AS bits,
                  CASE WHEN t3.c3 IS NOT NULL THEN 0 WHEN b23.cb IS NOT NULL THEN 1
                       WHEN u3.cu IS NOT NULL THEN 2 ELSE 3 END AS lvl
                FROM parts p
                LEFT JOIN tri t3 ON p.tg = t3.tg
                LEFT JOIN bi b12 ON p.w1 || ' ' || p.w2 = b12.bg
                LEFT JOIN bi b23 ON p.w2 || ' ' || p.w3 = b23.bg
                LEFT JOIN uni u2 ON p.w2 = u2.tok
                LEFT JOIN uni u3 ON p.w3 = u3.tok, tot),
         per AS (SELECT i.doc_id, CAST(sum(i.tf) AS BIGINT) AS n_trigrams,
                        floor((CAST(sum(i.tf * sv.bits) AS DOUBLE) / sum(i.tf)) * 1000000.0 + 0.5) / 1000000.0 AS mean_bits,
                        floor((CAST(sum(CASE WHEN sv.lvl > 0 THEN i.tf ELSE 0 END) AS DOUBLE)
                              / sum(i.tf)) * 1000000.0 + 0.5) / 1000000.0 AS backoff_frac
                 FROM inst i JOIN sv USING (tg) GROUP BY i.doc_id)
         SELECT d.doc_id, per.n_trigrams, per.mean_bits, per.backoff_frac
         FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         ORDER BY d.doc_id""",
    "q_dedup_key" ->
      """SELECT doc_id,
                trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) AS dkey
         FROM documents ORDER BY doc_id""",
    "q_checks" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders),
         u AS (
         SELECT 'fk_customer' AS "constraint", n.n_rows,
                (SELECT CAST(count(*) AS BIGINT) FROM orders o
                 WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
                   (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_violations
         FROM n
         UNION ALL
         SELECT 'not_null_custkey', n.n_rows,
                (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_custkey IS NULL) FROM n
         UNION ALL
         SELECT 'priority_format', n.n_rows,
                (SELECT CAST(count(*) AS BIGINT) FROM orders
                 WHERE o_orderpriority IS NULL OR NOT regexp_matches(o_orderpriority, '^[1-5]-')) FROM n
         UNION ALL
         SELECT 'range_cents', n.n_rows,
                (SELECT CAST(count(*) AS BIGINT) FROM orders
                 WHERE o_totalprice IS NULL OR CAST(round(o_totalprice * 100) AS BIGINT) < 0
                    OR CAST(round(o_totalprice * 100) AS BIGINT) > 30000000) FROM n
         UNION ALL
         SELECT 'status_domain', n.n_rows,
                (SELECT CAST(count(*) AS BIGINT) FROM orders
                 WHERE o_orderstatus IS NULL OR o_orderstatus NOT IN ('F', 'O', 'P')) FROM n
         UNION ALL
         SELECT 'unique_orderkey', n.n_rows,
                (SELECT CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders) FROM n)
         SELECT "constraint", n_rows, n_violations, n_violations = 0 AS passed
         FROM u ORDER BY "constraint"""",
    "q_profile" ->
      """WITH b AS (SELECT lang, source, n_chars,
                           CASE WHEN doc_id % 10 = 0 THEN NULL ELSE lang END AS lang_opt,
                           count(*) OVER () AS n
                    FROM documents)
         SELECT 'lang' AS "column", CAST(max(n) AS BIGINT) AS n_rows,
                CAST(max(n) - count(lang) AS BIGINT) AS n_nulls,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_distinct,
                min(lang) AS min_value, max(lang) AS max_value FROM b
         UNION ALL
         SELECT 'lang_opt', CAST(max(n) AS BIGINT),
                CAST(max(n) - count(lang_opt) AS BIGINT),
                CAST(count(DISTINCT lang_opt) AS BIGINT),
                min(lang_opt), max(lang_opt) FROM b
         UNION ALL
         SELECT 'n_chars', CAST(max(n) AS BIGINT),
                CAST(max(n) - count(n_chars) AS BIGINT),
                CAST(count(DISTINCT n_chars) AS BIGINT),
                CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM b
         UNION ALL
         SELECT 'source', CAST(max(n) AS BIGINT),
                CAST(max(n) - count(source) AS BIGINT),
                CAST(count(DISTINCT source) AS BIGINT),
                min(source), max(source) FROM b
         ORDER BY "column"""",
    "q_corpus_stats" ->
      """WITH t AS (SELECT source, lang, length(text) AS nc,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) END AS nt
         FROM documents)
         SELECT source, lang,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(nt) AS BIGINT) AS n_tokens,
                CAST(sum(nc) AS BIGINT) AS n_chars,
                floor((CAST(sum(nt) AS DOUBLE) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS mean_tokens,
                floor((CAST(sum(CASE WHEN nt < 10 THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS short_frac
         FROM t GROUP BY source, lang ORDER BY source, lang""",
    "q_lexical_diversity" ->
      """WITH tok AS (SELECT doc_id,
                unnest(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS t
              FROM documents),
         tc AS (SELECT doc_id, t, count(*) AS c FROM tok WHERE t <> ''
                GROUP BY doc_id, t),
         agg AS (SELECT doc_id,
                CAST(sum(c) AS BIGINT) AS n_tokens,
                CAST(count(*) AS BIGINT) AS n_types,
                CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
                CAST(sum(c * length(t)) AS BIGINT) AS chars
              FROM tc GROUP BY doc_id)
         SELECT doc_id, n_tokens, n_types,
                floor((CAST(n_types AS DOUBLE) / n_tokens) * 1000000.0 + 0.5) / 1000000.0 AS ttr,
                floor((CAST(n_hapax AS DOUBLE) / n_types) * 1000000.0 + 0.5) / 1000000.0 AS hapax_frac,
                floor((CAST(chars AS DOUBLE) / n_tokens) * 1000000.0 + 0.5) / 1000000.0 AS mean_word_len
         FROM agg ORDER BY doc_id""",
    "q_chunk_text" ->
      """WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) END AS n
         FROM documents),
         nz AS (SELECT doc_id, n,
                       CASE WHEN n <= 64 THEN 1
                            ELSE 1 + CAST(ceil((n - 64) / 48.0) AS INT) END AS k
                FROM t WHERE n > 0)
         SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
                CAST(least(64, n - i * 48) AS BIGINT) AS n_tokens
         FROM nz, unnest(range(0, k)) AS u(i)
         ORDER BY doc_id, chunk_idx""",
    "q_fim" ->
      // the two cut points replay the polyFingerprint fold (the
      // q_sample_hash pattern) mod the first-third width
      """WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
                           greatest((CAST(length(text) AS BIGINT)
                                     - length(text) % 3) // 3, 1) AS third
                    FROM documents),
         c AS (SELECT doc_id, text, n,
                      1 + list_reduce(list_prepend(0::BIGINT,
                            list_transform(str_split(doc_id::VARCHAR || ':fim:a', ''),
                              x -> ascii(x)::BIGINT)),
                            (a, b) -> (a * 31 + b) % 1000000007) % third AS p1,
                      list_reduce(list_prepend(0::BIGINT,
                            list_transform(str_split(doc_id::VARCHAR || ':fim:b', ''),
                              x -> ascii(x)::BIGINT)),
                            (a, b) -> (a * 31 + b) % 1000000007) % third AS h2
               FROM t)
         SELECT doc_id,
                CASE WHEN n < 10 THEN text
                     ELSE '<PRE>' || substr(text, 1, p1)
                          || '<SUF>' || substr(text, p1 + h2 + 2, n)
                          || '<MID>' || substr(text, p1 + 1, 1 + h2) END AS fim
         FROM c ORDER BY doc_id""",
    "q_span_corrupt" ->
      """WITH t AS (SELECT doc_id,
                           regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+') AS toks,
                           CASE WHEN length(trim(text)) = 0 THEN 0
                                ELSE len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+'))
                           END AS n
                    FROM documents),
         m AS (SELECT doc_id, toks, n,
                      list_transform(range(0, CAST(ceil(n / 10.0) AS INT)), b ->
                        struct_pack(b := b, mk :=
                          list_reduce(list_prepend(0::BIGINT,
                            list_transform(str_split(doc_id::VARCHAR || ':sc:' || b::VARCHAR, ''),
                              x -> ascii(x)::BIGINT)),
                            (a, c) -> (a * 31 + c) % 1000000007) % 4 = 0
                          AND b * 10 + 10 <= n)) AS bs
               FROM t WHERE n > 0)
         SELECT doc_id,
                coalesce(array_to_string(flatten(list_transform(bs, s ->
                  CASE WHEN struct_extract(s, 'mk')
                       THEN list_concat(toks[(struct_extract(s, 'b')*10+1):(struct_extract(s, 'b')*10+7)],
                                        ['<x_' || struct_extract(s, 'b')::VARCHAR || '>'])
                       ELSE toks[(struct_extract(s, 'b')*10+1):(struct_extract(s, 'b')*10+10)]
                  END)), ' '), '') AS input,
                coalesce(array_to_string(flatten(list_transform(bs, s ->
                  CASE WHEN struct_extract(s, 'mk')
                       THEN list_concat(['<x_' || struct_extract(s, 'b')::VARCHAR || '>'],
                                        toks[(struct_extract(s, 'b')*10+8):(struct_extract(s, 'b')*10+10)])
                       ELSE []::VARCHAR[]
                  END)), ' '), '') AS target,
                CAST(len(list_filter(bs, s -> struct_extract(s, 'mk'))) AS BIGINT) AS n_masked
         FROM m
         UNION ALL
         SELECT doc_id, '' AS input, '' AS target, 0::BIGINT AS n_masked
         FROM t WHERE n = 0
         ORDER BY doc_id""",
    "q_dup_spans" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents),
         e AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 10),
         inst AS (SELECT doc_id, array_to_string(toks[i:i+9], ' ') AS g
                  FROM e, unnest(range(1, len(toks) - 10 + 2)) AS u(i)),
         tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
                 FROM inst GROUP BY doc_id),
         dupg AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS d
                                 FROM inst GROUP BY g) WHERE d > 1),
         dups AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_spans
                  FROM inst JOIN dupg USING (g) GROUP BY doc_id)
         SELECT d.doc_id,
                COALESCE(tot.n_spans, 0) AS n_spans,
                COALESCE(dups.dup_spans, 0) AS dup_spans,
                CASE WHEN tot.n_spans > 0
                     THEN floor((CAST(COALESCE(dups.dup_spans, 0) AS DOUBLE) / tot.n_spans) * 1000000.0 + 0.5) / 1000000.0
                END AS dup_frac
         FROM documents d
         LEFT JOIN tot ON d.doc_id = tot.doc_id
         LEFT JOIN dups ON d.doc_id = dups.doc_id
         ORDER BY d.doc_id""",
    "q_rrf_fusion" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents),
         base AS (SELECT doc_id, toks, len(toks) AS dl FROM t),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl,
           CAST(sum(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
           CAST(sum(CASE WHEN list_contains(toks, 'shuffle') THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
           CAST(sum(CASE WHEN list_contains(toks, 'window') THEN 1 ELSE 0 END) AS DOUBLE) AS df2
           FROM base),
         lexs AS (SELECT doc_id, floor((ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
               * CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) * (1.2 + 1.0)
               / (CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE)
                  + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (sumdl / n)))
           + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
               * CAST(len(list_filter(toks, x -> x = 'shuffle')) AS DOUBLE) * (1.2 + 1.0)
               / (CAST(len(list_filter(toks, x -> x = 'shuffle')) AS DOUBLE)
                  + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (sumdl / n)))
           + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
               * CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) * (1.2 + 1.0)
               / (CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE)
                  + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (sumdl / n)))) * 1000000.0 + 0.5) / 1000000.0 AS score
           FROM base, stats),
         lex AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM lexs),
         q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         sems AS (SELECT vec_id AS doc_id,
                         floor((list_cosine_similarity(embedding::DOUBLE[], qv)) * 1000000.0 + 0.5) / 1000000.0 AS score
                  FROM embeddings, q),
         sem AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM sems)
         SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
                floor((COALESCE(1.0 / (60 + lex.r), 0) + COALESCE(1.0 / (60 + sem.r), 0)) * 1000000.0 + 0.5) / 1000000.0 AS rrf
         FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
         ORDER BY doc_id""",
    "q_quality_calibrated" ->
      """WITH t AS (SELECT doc_id, source, text,
                           regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents),
         qs AS (SELECT doc_id, source,
                floor((least(length(text)::DOUBLE / 500.0, 1.0) * 0.3 +
                  (CASE WHEN length(text) = 0 THEN 0.0
                        ELSE CAST(length(text) -
                               length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE)
                             / length(text) END) * 0.3 +
                  least((CASE WHEN length(trim(text)) = 0 THEN 0.0
                        ELSE CAST(len(list_filter(toks, x -> list_contains(
                               ['the','a','an','of','and','or','to','in','is','are','was',
                                'for','on','with','as','at','by','it','that','this','be'], x)))
                               AS DOUBLE) / len(toks) END) * 5.0, 1.0) * 0.3 +
                  (1.0 - least(CAST(length(text) -
                           length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
                         / greatest(length(text), 1) * 4.0, 1.0)) * 0.1) * 1000000.0 + 0.5) / 1000000.0 AS qscore
                FROM t),
         r AS (SELECT doc_id, source, qscore,
                      row_number() OVER (PARTITION BY source ORDER BY qscore, doc_id) - 1 AS rank0,
                      count(*) OVER (PARTITION BY source) AS n
               FROM qs)
         SELECT doc_id, source, qscore,
                CASE WHEN n > 1 THEN floor((CAST(rank0 AS DOUBLE) / (n - 1)) * 1000000.0 + 0.5) / 1000000.0
                     ELSE 0.0 END AS pctl
         FROM r ORDER BY doc_id""",
    "q_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
                    FROM events),
         conv AS (SELECT * FROM e WHERE event_type = 'purchase'),
         t AS (SELECT * FROM e WHERE event_type IN ('click', 'view')),
         j AS (SELECT c.event_id AS conv_id, c.user_id AS "user",
                      c.ts_us AS conv_ts,
                      CAST(count(t.event_id) AS BIGINT) AS n_touches,
                      min(CASE WHEN t.event_id IS NOT NULL THEN
                        struct_pack(t := t.ts_us, id := t.event_id, ty := t.event_type) END) AS f,
                      max(CASE WHEN t.event_id IS NOT NULL THEN
                        struct_pack(t := t.ts_us, id := t.event_id, ty := t.event_type) END) AS l
               FROM conv c LEFT JOIN t
                 ON t.user_id = c.user_id
                AND t.ts_us BETWEEN c.ts_us - 604800000000 AND c.ts_us - 1
               GROUP BY 1, 2, 3)
         SELECT conv_id, "user", conv_ts, n_touches,
                f.id AS first_id, f.ty AS first_type,
                l.id AS last_id, l.ty AS last_type
         FROM j ORDER BY conv_id""",
    "q_funnel" ->
      """WITH ev AS (SELECT user_id AS u, event_type AS e, epoch_ns(ts) AS t FROM events),
         s1 AS (SELECT u, min(t) AS t1 FROM ev WHERE e = 'view' GROUP BY u),
         s2 AS (SELECT ev.u, min(ev.t) AS t2, s1.t1 AS t1
                FROM ev JOIN s1 ON ev.u = s1.u
                WHERE ev.e = 'click' AND ev.t > s1.t1
                      AND ev.t - s1.t1 <= 604800000000000
                GROUP BY ev.u, s1.t1),
         s3 AS (SELECT ev.u, min(ev.t) AS t3
                FROM ev JOIN s2 ON ev.u = s2.u
                WHERE ev.e = 'purchase' AND ev.t > s2.t2
                      AND ev.t - s2.t1 <= 604800000000000
                GROUP BY ev.u),
         n1 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM s1),
         n2 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM s2),
         n3 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM s3)
         SELECT stage, step, users,
                CASE WHEN (SELECT c FROM n1) > 0
                     THEN floor((CAST(users AS DOUBLE) / (SELECT c FROM n1)) * 1000000.0 + 0.5) / 1000000.0
                     ELSE 0.0 END AS conversion
         FROM (SELECT 'view' AS stage, 1::BIGINT AS step, (SELECT c FROM n1) AS users
               UNION ALL
               SELECT 'click', 2::BIGINT, (SELECT c FROM n2)
               UNION ALL
               SELECT 'purchase', 3::BIGINT, (SELECT c FROM n3))
         ORDER BY step""",
    "q_rfm" ->
      """WITH base AS (SELECT o_custkey AS entity,
                10591 - max(date_diff('day', DATE '1970-01-01', o_orderdate::DATE)) AS recency,
                CAST(count(*) AS BIGINT) AS frequency,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
         FROM orders GROUP BY 1),
         n AS (SELECT count(*) AS n FROM base),
         r AS (SELECT base.*,
                row_number() OVER (ORDER BY recency DESC, entity) - 1 AS rr,
                row_number() OVER (ORDER BY frequency, entity) - 1 AS rf,
                row_number() OVER (ORDER BY monetary_cents, entity) - 1 AS rm
               FROM base)
         SELECT entity, CAST(recency AS BIGINT) AS recency, frequency, monetary_cents,
                CAST(floor(rr * 5 / n.n) + 1 AS BIGINT) AS r_score,
                CAST(floor(rf * 5 / n.n) + 1 AS BIGINT) AS f_score,
                CAST(floor(rm * 5 / n.n) + 1 AS BIGINT) AS m_score,
                CAST(CAST(floor(rr * 5 / n.n) + 1 AS BIGINT) AS VARCHAR) ||
                CAST(CAST(floor(rf * 5 / n.n) + 1 AS BIGINT) AS VARCHAR) ||
                CAST(CAST(floor(rm * 5 / n.n) + 1 AS BIGINT) AS VARCHAR) AS rfm
         FROM r CROSS JOIN n ORDER BY entity""",
    "q_retention" ->
      """WITH ev AS (SELECT DISTINCT user_id AS u,
                            epoch_ns(ts) // 604800000000000 AS b
                     FROM events),
         c AS (SELECT u, min(b) AS c FROM ev GROUP BY u)
         SELECT c.c AS cohort, ev.b - c.c AS bucket_offset, CAST(count(*) AS BIGINT) AS users
         FROM ev JOIN c ON ev.u = c.u
         GROUP BY 1, 2 ORDER BY cohort, bucket_offset""",
    "q_pagerank" -> pageRankOracleSql(5),
    "q_kcore" -> kCoreOracleSql(6, 8),
    "q_graph_e2e" -> graphE2eOracleSql(4, 8, 30),
    "q_ktruss" -> kTrussOracleSql(k = 5, rounds = 4, minSupport = 30),
    "q_textrank" -> textRankOracleSql(5),
    "q_pagerank_personal" -> pageRankOracleSql(5, seeds = Seq(1L, 2L, 3L)),
    "q_weighted_sample" ->
      """WITH t AS (SELECT doc_id, text,
                           regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks
                    FROM documents),
         qs AS (SELECT doc_id,
                floor((least(length(text)::DOUBLE / 500.0, 1.0) * 0.3 +
                  (CASE WHEN length(text) = 0 THEN 0.0
                        ELSE CAST(length(text) -
                               length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE)
                             / length(text) END) * 0.3 +
                  least((CASE WHEN length(trim(text)) = 0 THEN 0.0
                        ELSE CAST(len(list_filter(toks, x -> list_contains(
                               ['the','a','an','of','and','or','to','in','is','are','was',
                                'for','on','with','as','at','by','it','that','this','be'], x)))
                               AS DOUBLE) / len(toks) END) * 5.0, 1.0) * 0.3 +
                  (1.0 - least(CAST(length(text) -
                           length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
                         / greatest(length(text), 1) * 4.0, 1.0)) * 0.1) * 1000000.0 + 0.5) / 1000000.0 AS q
                FROM t)
         SELECT doc_id FROM qs
         WHERE list_reduce(list_prepend(0::BIGINT,
                 list_transform(
                   str_split(doc_id::VARCHAR || ':wq1:' || doc_id::VARCHAR, ''),
                   x -> ascii(x)::BIGINT)),
                 (a, b) -> (a * 31 + b) % 1000000007) % 10000
               < CAST(round(q * 10000) AS BIGINT)
         ORDER BY doc_id""",
    "q_blocklist" ->
      """SELECT doc_id FROM documents
         WHERE len(list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                 t -> list_contains(['join', 'spill', 'straggler'], t))) = 0
         ORDER BY doc_id""",
    "q_tpch_q3" ->
      """SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
                CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE c.c_mktsegment = 'BUILDING'
           AND o.o_orderdate < TIMESTAMP '1996-03-15'
           AND l.l_shipdate > TIMESTAMP '1996-03-15'
         GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
         ORDER BY revenue_cents DESC, l.l_orderkey LIMIT 10""",
    "q_tpch_q5" ->
      """SELECT n.n_name,
                CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM customer c
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         WHERE r.r_name = 'ASIA'
           AND o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n.n_name
         ORDER BY revenue_cents DESC, n.n_name""",
    "q_triangles" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_suppkey AS i FROM lineitem),
         p AS (SELECT x.i AS a, y.i AS b FROM bi x JOIN bi y ON x.bk = y.bk AND x.i < y.i
               GROUP BY 1, 2 HAVING count(*) >= 5)
         SELECT e1.a AS a, e1.b AS b, e2.b AS c
         FROM p e1
         JOIN p e2 ON e1.b = e2.a
         JOIN p e3 ON e1.a = e3.a AND e2.b = e3.b
         ORDER BY a, b, c""",
    "q_link_predict" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS i FROM lineitem),
         p AS (SELECT x.i AS a, y.i AS b FROM bi x JOIN bi y ON x.bk = y.bk AND x.i < y.i
               GROUP BY 1, 2 HAVING count(*) >= 2),
         und AS (SELECT a AS s, b AS d FROM p UNION ALL SELECT b, a FROM p),
         deg AS (SELECT s AS v, CAST(count(*) AS BIGINT) AS dg FROM und GROUP BY s),
         two AS (SELECT x.s AS a, y.s AS b, CAST(count(*) AS BIGINT) AS cn
                 FROM und x JOIN und y ON x.d = y.d AND x.s < y.s
                 GROUP BY 1, 2),
         ne AS (SELECT two.* FROM two
                WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.a = two.a AND p.b = two.b))
         SELECT ne.a, ne.b, ne.cn,
                CAST(da.dg * db.dg AS BIGINT) AS pa,
                floor((CAST(ne.cn AS DOUBLE) / (da.dg + db.dg - ne.cn)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
         FROM ne JOIN deg da ON ne.a = da.v JOIN deg db ON ne.b = db.v
         ORDER BY ne.a, ne.b""",
    "q_clustering_coeff" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_suppkey AS i FROM lineitem),
         p AS (SELECT x.i AS a, y.i AS b FROM bi x JOIN bi y ON x.bk = y.bk AND x.i < y.i
               GROUP BY 1, 2 HAVING count(*) >= 30),
         tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
                 FROM p e1 JOIN p e2 ON e1.b = e2.a
                 JOIN p e3 ON e1.a = e3.a AND e2.b = e3.b),
         tv AS (SELECT v AS node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
                  SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
                  UNION ALL SELECT c FROM tri)
                GROUP BY v),
         deg AS (SELECT v AS node, CAST(count(*) AS BIGINT) AS degree FROM (
                  SELECT a AS v FROM p UNION ALL SELECT b FROM p) GROUP BY v)
         SELECT deg.node, deg.degree,
                CAST(COALESCE(tv.n_triangles, 0) AS BIGINT) AS n_triangles,
                CASE WHEN deg.degree < 2 THEN 0.0
                     ELSE floor((2.0 * COALESCE(tv.n_triangles, 0)
                                / (deg.degree * (deg.degree - 1))) * 1000000.0 + 0.5) / 1000000.0 END AS coeff
         FROM deg LEFT JOIN tv ON deg.node = tv.node
         ORDER BY deg.node""",
    "q_basket_rules" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_suppkey AS i FROM lineitem),
         sup AS (SELECT i, CAST(count(*) AS BIGINT) AS s FROM bi GROUP BY i),
         p AS (SELECT x.i AS a, y.i AS c, CAST(count(*) AS BIGINT) AS support
               FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
               GROUP BY 1, 2 HAVING count(*) >= 5),
         dirs AS (SELECT a AS lhs, c AS rhs, support FROM p
                  UNION ALL SELECT c, a, support FROM p)
         SELECT lhs, rhs, support,
                floor((CAST(support AS DOUBLE) / sup.s) * 1000000.0 + 0.5) / 1000000.0 AS confidence
         FROM dirs JOIN sup ON dirs.lhs = sup.i
         ORDER BY lhs, rhs""",
    "q_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, text FROM documents),
         b0 AS (SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
                FROM documents WHERE doc_id % 11 <> 0),
         badd AS (SELECT doc_id + 1000000 AS doc_id, text
                  FROM documents WHERE doc_id % 13 = 0),
         b AS (SELECT * FROM b0 UNION ALL SELECT * FROM badd)
         SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
                CASE WHEN a.doc_id IS NULL THEN 'added'
                     WHEN b.doc_id IS NULL THEN 'removed'
                     WHEN a.text IS DISTINCT FROM b.text THEN 'changed'
                END AS change
         FROM a FULL JOIN b ON a.doc_id = b.doc_id
         WHERE (CASE WHEN a.doc_id IS NULL THEN 'added'
                     WHEN b.doc_id IS NULL THEN 'removed'
                     WHEN a.text IS DISTINCT FROM b.text THEN 'changed'
                END) IS NOT NULL
         ORDER BY doc_id""",
    "q_correlation" ->
      """WITH t AS (SELECT CAST(n_chars AS BIGINT) AS x,
                           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                                ELSE len(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'))
                                END AS BIGINT) AS y
                    FROM documents),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                      CAST(sum(x * y) AS BIGINT) AS sxy,
                      CAST(sum(x * x) AS BIGINT) AS sxx,
                      CAST(sum(y * y) AS BIGINT) AS syy
               FROM t)
         SELECT n,
                CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
                      AND (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
                     THEN floor(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                                / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                                   * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))) * 1000000.0 + 0.5) / 1000000.0
                END AS corr
         FROM m""",
    "q_abtest" ->
      """WITH per AS (SELECT user_id AS u, user_id % 2 AS g,
                             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s
                      FROM events GROUP BY 1, 2),
         agg AS (SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS x
                 FROM per GROUP BY g),
         a AS (SELECT g AS group_a, n AS n_a, x AS x_a FROM agg ORDER BY g LIMIT 1),
         b AS (SELECT g AS group_b, n AS n_b, x AS x_b FROM agg ORDER BY g DESC LIMIT 1)
         SELECT group_a, n_a, x_a, group_b, n_b, x_b,
                floor((CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS rate_a,
                floor((CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS rate_b,
                CASE WHEN sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                               * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                               * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) > 0
                     THEN floor(((CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                                 - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                                / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                                       * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                                       * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))) * 1000000.0 + 0.5) / 1000000.0
                END AS z
         FROM a, b""",
    "q_ks_drift" ->
      """WITH c AS (SELECT n_chars AS v, doc_id % 2 AS s, CAST(count(*) AS BIGINT) AS n
                    FROM documents GROUP BY 1, 2),
         g AS (SELECT v, CAST(sum(CASE WHEN s = 0 THEN n ELSE 0 END) AS BIGINT) AS a,
                      CAST(sum(CASE WHEN s = 1 THEN n ELSE 0 END) AS BIGINT) AS b
               FROM c GROUP BY v),
         w AS (SELECT v, CAST(sum(a) OVER (ORDER BY v) AS BIGINT) AS ca,
                      CAST(sum(b) OVER (ORDER BY v) AS BIGINT) AS cb FROM g),
         t AS (SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb FROM g)
         SELECT na AS n_a, nb AS n_b,
                CAST(max(abs(ca * nb - cb * na)) AS BIGINT) AS ks_num,
                CAST(na * nb AS BIGINT) AS ks_den,
                floor((CAST(max(abs(ca * nb - cb * na)) AS DOUBLE) / (na * nb)) * 1000000.0 + 0.5) / 1000000.0 AS ks
         FROM w, t GROUP BY na, nb""",
    "q_winsorize" ->
      // bound VALUES at exact ranks are tie-order invariant, so the bare
      // ORDER BY c row_number suffices
      """WITH v AS (SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS c
                    FROM lineitem),
         o AS (SELECT c, row_number() OVER (ORDER BY c) - 1 AS rk FROM v),
         k AS (SELECT (10 * (count(*) - 1)) // 1000 AS klo,
                      (990 * (count(*) - 1)) // 1000 AS khi FROM v),
         b AS (SELECT (SELECT c FROM o, k WHERE rk = klo) AS lo,
                      (SELECT c FROM o, k WHERE rk = khi) AS hi)
         SELECT l_returnflag,
                CAST(count(CASE WHEN c < lo OR c > hi THEN 1 END) AS BIGINT) AS n_clipped,
                CAST(sum(least(greatest(c, lo), hi)) AS BIGINT) AS sum_clip_c,
                count(*) AS n
         FROM v, b GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_knn_classify" ->
      """WITH s AS (SELECT vec_id AS sid, embedding::DOUBLE[] AS sv, label
                    FROM embeddings WHERE vec_id < 100),
         t AS (SELECT vec_id AS tid, embedding::DOUBLE[] AS tv
               FROM embeddings WHERE vec_id >= 100),
         sc AS (SELECT tid, sid, label, floor((list_cosine_similarity(tv, sv)) * 1000000.0 + 0.5) / 1000000.0 AS c
                FROM t, s),
         top AS (SELECT tid, label FROM (
                   SELECT tid, label,
                          row_number() OVER (PARTITION BY tid ORDER BY c DESC, sid) AS rn
                   FROM sc) WHERE rn <= 5),
         v AS (SELECT tid, label, CAST(count(*) AS BIGINT) AS votes
               FROM top GROUP BY tid, label)
         SELECT tid AS vec_id, label, votes FROM (
           SELECT tid, label, votes,
                  row_number() OVER (PARTITION BY tid ORDER BY votes DESC, label) AS r
           FROM v) WHERE r = 1
         ORDER BY vec_id""",
    "q_bitext_mine" ->
      """WITH v AS (SELECT vec_id, vec_id % 2 = 0 AS sa, embedding::DOUBLE[] AS e
                    FROM embeddings),
         p AS (SELECT a.vec_id ida, b.vec_id idb, list_cosine_similarity(a.e, b.e) AS c
               FROM v a JOIN v b ON a.sa AND NOT b.sa),
         ra AS (SELECT *, row_number() OVER (PARTITION BY ida ORDER BY c DESC, idb) AS rk FROM p),
         b1 AS (SELECT ida, idb, c FROM ra WHERE rk = 1),
         b2 AS (SELECT ida, c AS c2 FROM ra WHERE rk = 2),
         rb AS (SELECT idb, ida AS back FROM (
                  SELECT *, row_number() OVER (PARTITION BY idb ORDER BY c DESC, ida) rk
                  FROM p) t WHERE rk = 1),
         out AS (SELECT b1.ida AS id_a, b1.idb AS id_b, b1.c AS rawc,
                        floor((b1.c) * 1000000.0 + 0.5) / 1000000.0 AS cosine,
                        CASE WHEN b2.c2 > 0 THEN floor((b1.c / b2.c2) * 1000000.0 + 0.5) / 1000000.0 END AS margin,
                        rb.back
                 FROM b1 LEFT JOIN b2 USING (ida) JOIN rb USING (idb))
         SELECT id_a, id_b, cosine, margin FROM out
         WHERE back = id_a AND rawc >= 0.2
           AND (margin IS NULL OR margin >= 1.05)
         ORDER BY id_a""",
    "q_hard_negatives" ->
      """WITH a AS (SELECT vec_id AS aid, embedding::DOUBLE[] AS av, label AS albl
                    FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv, label AS clbl
               FROM embeddings),
         sc AS (SELECT aid, cid, floor((list_cosine_similarity(av, cv)) * 1000000.0 + 0.5) / 1000000.0 AS cos
                FROM c, a WHERE clbl <> albl),
         r AS (SELECT aid, cid, cos,
                      row_number() OVER (PARTITION BY aid ORDER BY cos DESC, cid) AS rn
               FROM sc)
         SELECT aid AS anchor_id, cid AS neg_id, cos AS cosine,
                CAST(rn AS BIGINT) AS rank
         FROM r WHERE rn <= 5 ORDER BY anchor_id, rank""",
    "q_label_prop" -> labelPropOracleSql(rounds = 3, minSupport = 30, seedMod = 25),
    "q_modularity" -> modularityOracleSql(rounds = 3, minSupport = 30, seedMod = 25),
    "q_retrieval_metrics" ->
      """WITH a AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, label AS qlbl
                    FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS did, embedding::DOUBLE[] AS cv, label AS clbl
               FROM embeddings),
         sc AS (SELECT qid, did, qlbl, clbl,
                       floor((list_cosine_similarity(qv, cv)) * 1000000.0 + 0.5) / 1000000.0 AS cos
                FROM c, a),
         r AS (SELECT qid, did, qlbl, clbl,
                      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, did) AS rank
               FROM sc),
         rel AS (SELECT qid, did FROM sc WHERE qlbl = clbl),
         relc AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_relevant FROM rel GROUP BY qid),
         hits AS (SELECT r.qid, CAST(count(*) AS BIGINT) AS n_hits,
                         CAST(min(r.rank) AS BIGINT) AS fhr
                  FROM r JOIN rel ON r.qid = rel.qid AND r.did = rel.did
                  WHERE r.rank <= 5 GROUP BY r.qid)
         SELECT relc.qid AS query_id,
                CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits, n_relevant,
                floor((COALESCE(n_hits, 0)::DOUBLE / least(n_relevant, 5)) * 1000000.0 + 0.5) / 1000000.0 AS recall_at_5,
                floor((COALESCE(n_hits, 0)::DOUBLE / 5) * 1000000.0 + 0.5) / 1000000.0 AS precision_at_5,
                floor((CASE WHEN fhr IS NOT NULL THEN 1.0 / fhr ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0
                  AS reciprocal_rank
         FROM relc LEFT JOIN hits ON relc.qid = hits.qid ORDER BY query_id""",
    "q_ndcg" -> {
      // weight and ideal-prefix tables literalized from the SAME
      // driver-side dcgWeightsMicro table the Spark plan carries
      val w = graft.eval.RetrievalEval.dcgWeightsMicro(5)
      val wl = w.mkString("[", ", ", "]")
      val pl = w.scanLeft(0L)(_ + _).mkString("[", ", ", "]")
      s"""WITH a AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, label AS qlbl
                     FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS did, embedding::DOUBLE[] AS cv, label AS clbl
               FROM embeddings),
         sc AS (SELECT qid, did, qlbl, clbl,
                       floor((list_cosine_similarity(qv, cv)) * 1000000.0 + 0.5) / 1000000.0 AS cos
                FROM c, a),
         r AS (SELECT qid, did, qlbl, clbl,
                      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, did) AS rank
               FROM sc),
         rel AS (SELECT qid, did FROM sc WHERE qlbl = clbl),
         relc AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_relevant FROM rel GROUP BY qid),
         dcg AS (SELECT r.qid, CAST(sum(($wl)[CAST(r.rank AS INT)]) AS BIGINT) AS dcg_micro
                 FROM r JOIN rel ON r.qid = rel.qid AND r.did = rel.did
                 WHERE r.rank <= 5 GROUP BY r.qid)
         SELECT relc.qid AS query_id,
                CAST(COALESCE(dcg_micro, 0) AS BIGINT) AS dcg_micro,
                floor((COALESCE(dcg_micro, 0)::DOUBLE
                      / ($pl)[CAST(least(n_relevant, 5) + 1 AS INT)]) * 1000000.0 + 0.5) / 1000000.0 AS ndcg_at_5
         FROM relc LEFT JOIN dcg ON relc.qid = dcg.qid ORDER BY query_id"""
    },
    "q_rouge_f1" ->
      """WITH tk AS (SELECT doc_id,
                       list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                                   x -> length(x) > 0) AS toks
                     FROM documents),
         win AS (SELECT doc_id AS query_id, toks[1:10] AS gt, toks[3:14] AS rt FROM tk),
         gr AS (SELECT query_id,
                       CASE WHEN len(gt) < 2 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, len(gt)), i -> gt[i] || ' ' || gt[i+1])
                       END AS gg,
                       CASE WHEN len(rt) < 2 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, len(rt)), i -> rt[i] || ' ' || rt[i+1])
                       END AS rg
                FROM win),
         ov AS (SELECT query_id, gg, rg,
                       CAST(coalesce(list_sum(list_transform(list_distinct(gg),
                         t -> least(len(list_filter(gg, y -> y = t)),
                                    len(list_filter(rg, y -> y = t))))), 0) AS DOUBLE) AS o
                FROM gr),
         pr AS (SELECT query_id,
                       CASE WHEN len(gg) > 0 THEN o / len(gg) ELSE 0.0 END AS p,
                       CASE WHEN len(rg) > 0 THEN o / len(rg) ELSE 0.0 END AS r
                FROM ov)
         SELECT query_id, floor((p) * 1000000.0 + 0.5) / 1000000.0 AS rouge2_precision, floor((r) * 1000000.0 + 0.5) / 1000000.0 AS rouge2_recall,
                floor((CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0
                  AS rouge2_f1
         FROM pr ORDER BY query_id""",
    "q_chrf" ->
      """WITH tk AS (SELECT doc_id,
                       list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                                   x -> length(x) > 0) AS toks
                     FROM documents),
         win AS (SELECT doc_id AS query_id,
                        regexp_replace(lower(coalesce(array_to_string(toks[1:10], ' '), '')), '[ \t\n\x0b\f\r]+', '', 'g') AS g,
                        regexp_replace(lower(coalesce(array_to_string(toks[3:14], ' '), '')), '[ \t\n\x0b\f\r]+', '', 'g') AS r
                 FROM tk),
         gr AS (SELECT query_id,
                       CASE WHEN length(g) < 1 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, length(g) - 1 + 2), i -> substr(g, i, 1)) END AS g1,
                       CASE WHEN length(r) < 1 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, length(r) - 1 + 2), i -> substr(r, i, 1)) END AS r1,
                       CASE WHEN length(g) < 2 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, length(g) - 2 + 2), i -> substr(g, i, 2)) END AS g2,
                       CASE WHEN length(r) < 2 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, length(r) - 2 + 2), i -> substr(r, i, 2)) END AS r2,
                       CASE WHEN length(g) < 3 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, length(g) - 3 + 2), i -> substr(g, i, 3)) END AS g3,
                       CASE WHEN length(r) < 3 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, length(r) - 3 + 2), i -> substr(r, i, 3)) END AS r3,
                       CASE WHEN length(g) < 4 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, length(g) - 4 + 2), i -> substr(g, i, 4)) END AS g4,
                       CASE WHEN length(r) < 4 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, length(r) - 4 + 2), i -> substr(r, i, 4)) END AS r4,
                       CASE WHEN length(g) < 5 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, length(g) - 5 + 2), i -> substr(g, i, 5)) END AS g5,
                       CASE WHEN length(r) < 5 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, length(r) - 5 + 2), i -> substr(r, i, 5)) END AS r5,
                       CASE WHEN length(g) < 6 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, length(g) - 6 + 2), i -> substr(g, i, 6)) END AS g6,
                       CASE WHEN length(r) < 6 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, length(r) - 6 + 2), i -> substr(r, i, 6)) END AS r6
                FROM win),
         pv AS (SELECT query_id,
                CASE WHEN len(g1) > 0 THEN CAST(coalesce(list_sum(list_transform(list_distinct(g1),
                  t -> least(len(list_filter(g1, y -> y = t)), len(list_filter(r1, y -> y = t))))), 0) AS DOUBLE) / len(g1) ELSE 0.0 END AS p1,
                CASE WHEN len(r1) > 0 THEN CAST(coalesce(list_sum(list_transform(list_distinct(g1),
                  t -> least(len(list_filter(g1, y -> y = t)), len(list_filter(r1, y -> y = t))))), 0) AS DOUBLE) / len(r1) ELSE 0.0 END AS r1,
                CASE WHEN len(g2) > 0 THEN CAST(coalesce(list_sum(list_transform(list_distinct(g2),
                  t -> least(len(list_filter(g2, y -> y = t)), len(list_filter(r2, y -> y = t))))), 0) AS DOUBLE) / len(g2) ELSE 0.0 END AS p2,
                CASE WHEN len(r2) > 0 THEN CAST(coalesce(list_sum(list_transform(list_distinct(g2),
                  t -> least(len(list_filter(g2, y -> y = t)), len(list_filter(r2, y -> y = t))))), 0) AS DOUBLE) / len(r2) ELSE 0.0 END AS r2,
                CASE WHEN len(g3) > 0 THEN CAST(coalesce(list_sum(list_transform(list_distinct(g3),
                  t -> least(len(list_filter(g3, y -> y = t)), len(list_filter(r3, y -> y = t))))), 0) AS DOUBLE) / len(g3) ELSE 0.0 END AS p3,
                CASE WHEN len(r3) > 0 THEN CAST(coalesce(list_sum(list_transform(list_distinct(g3),
                  t -> least(len(list_filter(g3, y -> y = t)), len(list_filter(r3, y -> y = t))))), 0) AS DOUBLE) / len(r3) ELSE 0.0 END AS r3,
                CASE WHEN len(g4) > 0 THEN CAST(coalesce(list_sum(list_transform(list_distinct(g4),
                  t -> least(len(list_filter(g4, y -> y = t)), len(list_filter(r4, y -> y = t))))), 0) AS DOUBLE) / len(g4) ELSE 0.0 END AS p4,
                CASE WHEN len(r4) > 0 THEN CAST(coalesce(list_sum(list_transform(list_distinct(g4),
                  t -> least(len(list_filter(g4, y -> y = t)), len(list_filter(r4, y -> y = t))))), 0) AS DOUBLE) / len(r4) ELSE 0.0 END AS r4,
                CASE WHEN len(g5) > 0 THEN CAST(coalesce(list_sum(list_transform(list_distinct(g5),
                  t -> least(len(list_filter(g5, y -> y = t)), len(list_filter(r5, y -> y = t))))), 0) AS DOUBLE) / len(g5) ELSE 0.0 END AS p5,
                CASE WHEN len(r5) > 0 THEN CAST(coalesce(list_sum(list_transform(list_distinct(g5),
                  t -> least(len(list_filter(g5, y -> y = t)), len(list_filter(r5, y -> y = t))))), 0) AS DOUBLE) / len(r5) ELSE 0.0 END AS r5,
                CASE WHEN len(g6) > 0 THEN CAST(coalesce(list_sum(list_transform(list_distinct(g6),
                  t -> least(len(list_filter(g6, y -> y = t)), len(list_filter(r6, y -> y = t))))), 0) AS DOUBLE) / len(g6) ELSE 0.0 END AS p6,
                CASE WHEN len(r6) > 0 THEN CAST(coalesce(list_sum(list_transform(list_distinct(g6),
                  t -> least(len(list_filter(g6, y -> y = t)), len(list_filter(r6, y -> y = t))))), 0) AS DOUBLE) / len(r6) ELSE 0.0 END AS r6
                FROM gr),
         fv AS (SELECT query_id,
                CASE WHEN 4.0 * p1 + r1 > 0 THEN 5.0 * p1 * r1 / (4.0 * p1 + r1) ELSE 0.0 END AS f1,
                CASE WHEN 4.0 * p2 + r2 > 0 THEN 5.0 * p2 * r2 / (4.0 * p2 + r2) ELSE 0.0 END AS f2,
                CASE WHEN 4.0 * p3 + r3 > 0 THEN 5.0 * p3 * r3 / (4.0 * p3 + r3) ELSE 0.0 END AS f3,
                CASE WHEN 4.0 * p4 + r4 > 0 THEN 5.0 * p4 * r4 / (4.0 * p4 + r4) ELSE 0.0 END AS f4,
                CASE WHEN 4.0 * p5 + r5 > 0 THEN 5.0 * p5 * r5 / (4.0 * p5 + r5) ELSE 0.0 END AS f5,
                CASE WHEN 4.0 * p6 + r6 > 0 THEN 5.0 * p6 * r6 / (4.0 * p6 + r6) ELSE 0.0 END AS f6
                FROM pv)
         SELECT query_id, floor(((f1 + f2 + f3 + f4 + f5 + f6) / 6) * 1000000.0 + 0.5) / 1000000.0 AS chrf
         FROM fv ORDER BY query_id""",
    "q_bleu" ->
      """WITH tk AS (SELECT doc_id,
                       list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                                   x -> length(x) > 0) AS toks
                     FROM documents),
         win AS (SELECT doc_id AS query_id, toks[1:10] AS gt, toks[3:14] AS rt FROM tk),
         gr AS (SELECT query_id,
                       CAST(len(gt) AS BIGINT) AS cand_len, CAST(len(rt) AS BIGINT) AS ref_len,
                       gt AS g1, rt AS r1,
                       list_transform(range(1, len(gt)), i -> gt[i] || ' ' || gt[i+1]) AS g2,
                       list_transform(range(1, len(rt)), i -> rt[i] || ' ' || rt[i+1]) AS r2,
                       list_transform(range(1, len(gt)-1), i -> gt[i] || ' ' || gt[i+1] || ' ' || gt[i+2]) AS g3,
                       list_transform(range(1, len(rt)-1), i -> rt[i] || ' ' || rt[i+1] || ' ' || rt[i+2]) AS r3,
                       list_transform(range(1, len(gt)-2), i -> gt[i] || ' ' || gt[i+1] || ' ' || gt[i+2] || ' ' || gt[i+3]) AS g4,
                       list_transform(range(1, len(rt)-2), i -> rt[i] || ' ' || rt[i+1] || ' ' || rt[i+2] || ' ' || rt[i+3]) AS r4
                FROM win),
         pv AS (SELECT query_id, cand_len, ref_len,
                       CASE WHEN len(g1) > 0 THEN CAST(coalesce(list_sum(list_transform(list_distinct(g1),
                         t -> least(len(list_filter(g1, y -> y = t)), len(list_filter(r1, y -> y = t))))), 0) AS DOUBLE) / len(g1) ELSE 0.0 END AS p1,
                       CASE WHEN len(g2) > 0 THEN CAST(coalesce(list_sum(list_transform(list_distinct(g2),
                         t -> least(len(list_filter(g2, y -> y = t)), len(list_filter(r2, y -> y = t))))), 0) AS DOUBLE) / len(g2) ELSE 0.0 END AS p2,
                       CASE WHEN len(g3) > 0 THEN CAST(coalesce(list_sum(list_transform(list_distinct(g3),
                         t -> least(len(list_filter(g3, y -> y = t)), len(list_filter(r3, y -> y = t))))), 0) AS DOUBLE) / len(g3) ELSE 0.0 END AS p3,
                       CASE WHEN len(g4) > 0 THEN CAST(coalesce(list_sum(list_transform(list_distinct(g4),
                         t -> least(len(list_filter(g4, y -> y = t)), len(list_filter(r4, y -> y = t))))), 0) AS DOUBLE) / len(g4) ELSE 0.0 END AS p4
                FROM gr)
         SELECT query_id, cand_len, ref_len,
                floor((p1) * 1000000.0 + 0.5) / 1000000.0 AS p1, floor((p2) * 1000000.0 + 0.5) / 1000000.0 AS p2, floor((p3) * 1000000.0 + 0.5) / 1000000.0 AS p3, floor((p4) * 1000000.0 + 0.5) / 1000000.0 AS p4,
                floor((sqrt(sqrt(p1 * p2 * p3 * p4))) * 1000000.0 + 0.5) / 1000000.0 AS bleu_core,
                cand_len >= ref_len AS brevity_ok
         FROM pv ORDER BY query_id""",
    "q_answer_f1" ->
      """WITH tk AS (SELECT doc_id,
                       list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+'),
                                   x -> length(x) > 0) AS toks
                     FROM documents),
         win AS (SELECT doc_id AS query_id,
                        coalesce(array_to_string(toks[1:10], ' '), '') AS g,
                        coalesce(array_to_string(toks[3:14], ' '), '') AS r
                 FROM tk),
         st AS (SELECT query_id,
                       list_distinct(regexp_split_to_array(trim(lower(g)), '[ \t\n\x0b\f\r]+')) AS gs,
                       list_distinct(regexp_split_to_array(trim(lower(r)), '[ \t\n\x0b\f\r]+')) AS rs
                FROM win),
         ov AS (SELECT query_id, gs, rs,
                       CAST(len(list_intersect(gs, rs)) AS DOUBLE) AS o FROM st),
         pr AS (SELECT query_id,
                       CASE WHEN len(gs) > 0 THEN o / len(gs) ELSE 0.0 END AS p,
                       CASE WHEN len(rs) > 0 THEN o / len(rs) ELSE 0.0 END AS r
                FROM ov)
         SELECT query_id, floor((p) * 1000000.0 + 0.5) / 1000000.0 AS precision, floor((r) * 1000000.0 + 0.5) / 1000000.0 AS recall,
                floor((CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS f1
         FROM pr ORDER BY query_id""",
    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST""",
    "q_pivot" ->
      """SELECT o_orderpriority AS priority,
                CAST(sum(CASE WHEN o_orderstatus = 'F'
                         THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS "F",
                CAST(sum(CASE WHEN o_orderstatus = 'O'
                         THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS "O",
                CAST(sum(CASE WHEN o_orderstatus = 'P'
                         THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS "P"
         FROM orders GROUP BY 1 ORDER BY priority""",
    "q_unpivot" ->
      """WITH w AS (SELECT o_orderpriority AS priority,
                CAST(sum(CASE WHEN o_orderstatus = 'F'
                         THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS f,
                CAST(sum(CASE WHEN o_orderstatus = 'O'
                         THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS o,
                CAST(sum(CASE WHEN o_orderstatus = 'P'
                         THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS p
           FROM orders GROUP BY 1)
         SELECT priority, status, cents FROM (
           SELECT priority, 'F' AS status, f AS cents FROM w
           UNION ALL SELECT priority, 'O', o FROM w
           UNION ALL SELECT priority, 'P', p FROM w)
         WHERE cents IS NOT NULL
         ORDER BY priority, status""",
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""",
    "q_nfc" ->
      """SELECT doc_id,
                nfc_normalize(substr(text, 1, 30) || ' cafe' || chr(769) ||
                              ' n' || chr(771) || ' A' || chr(778)) AS norm
         FROM documents ORDER BY doc_id""",
    "q_fix_mojibake" -> {
      // replace() chain generated from the SAME ordered mapping table the
      // Spark expression applies — see MojibakeRepair.sqlOracle
      val moji = graft.functions.MojibakeRepair.Mappings.map(_._1).mkString(" ")
      val fixed = graft.functions.MojibakeRepair.sqlOracle(
        s"substr(text, 1, 40) || ' $moji'")
      s"SELECT doc_id, $fixed AS fixed FROM documents ORDER BY doc_id"
    },
    "q_c4_clean" ->
      """WITH t AS (
           SELECT doc_id, text,
                  -- coalesce: DuckDB array_to_string is NULL on empty lists,
                  -- Spark array_join is ''
                  coalesce(array_to_string(list_filter(string_split(text, chr(10)),
                    l -> regexp_matches(l, '[.!?"] *\z')
                         AND len(list_filter(regexp_split_to_array(l, '[ \t\n\x0b\f\r]+'), w -> w <> '')) >= 5
                         AND NOT contains(lower(l), 'javascript')), chr(10)), '') AS clean_text
           FROM documents)
         SELECT doc_id, clean_text,
                (length(clean_text) > 0
                 AND length(clean_text) - length(regexp_replace(clean_text, '[.!?]', '', 'g')) >= 3
                 AND NOT contains(text, '{')
                 AND NOT contains(lower(text), 'lorem ipsum')) AS keep
         FROM t ORDER BY doc_id""",
    "q_gopher_quality" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), w -> w <> '') AS words,
                  string_split(text, chr(10)) AS lines,
                  text
           FROM documents),
         c AS (
           SELECT doc_id,
                  CAST(len(words) AS BIGINT) AS n_words,
                  CAST(len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha_words,
                  CAST(coalesce(list_sum(list_transform(words, w -> length(w))), 0) AS BIGINT) AS word_char_sum,
                  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
                  CAST((length(text) - length(replace(text, '...', ''))) / 3
                       + (length(text) - length(replace(text, '…', ''))) AS BIGINT) AS n_ellipsis,
                  CAST(len(lines) AS BIGINT) AS n_lines,
                  CAST(len(list_filter(lines, l -> regexp_matches(l, '^ *[•*-]'))) AS BIGINT) AS n_bullet_lines,
                  CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…) *$'))) AS BIGINT) AS n_ellipsis_lines,
                  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
                       s -> list_contains(list_transform(words, w -> lower(w)), s))) AS BIGINT) AS n_stop_distinct
           FROM t)
         SELECT doc_id, n_words, n_alpha_words, word_char_sum, n_hash,
                n_ellipsis, n_lines, n_bullet_lines, n_ellipsis_lines,
                n_stop_distinct,
                (n_words BETWEEN 50 AND 100000
                 AND word_char_sum >= n_words * 3 AND word_char_sum <= n_words * 10
                 AND n_hash * 10 <= n_words
                 AND n_ellipsis * 10 <= n_words
                 AND n_bullet_lines * 10 <= n_lines * 9
                 AND n_ellipsis_lines * 10 <= n_lines * 3
                 AND n_alpha_words * 5 >= n_words * 4
                 AND n_stop_distinct >= 2) AS keep
         FROM c ORDER BY doc_id""",
    "q_benford" -> benfordOracleSql,
    "q_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
                CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
         WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
           AND l.l_shipdate < TIMESTAMP '1998-01-01'
           AND ((s.s_nationkey < 3 AND c.c_nationkey >= 22)
             OR (s.s_nationkey >= 22 AND c.c_nationkey < 3))
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q_tpch_q10" ->
      """SELECT c.c_custkey, c.c_name, n.n_name,
                CAST(round(c.c_acctbal * 100) AS BIGINT) AS acctbal_cents,
                CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE l.l_returnflag = 'R'
           AND o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate < TIMESTAMP '1996-04-01'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue_cents DESC, c.c_custkey LIMIT 20""",
    "q_record_linkage" -> linkageOracleSql,
    "q_er_e2e" -> erOracleSql,
    "q_asof_forward" ->
      // forward mirror of q_asof_join's correlated-subquery oracle, with
      // the 10-minute tolerance folded into the predicate (equivalent to
      // match-then-check: the earliest following click outside tolerance
      // implies every later one is too)
      """WITH c AS (SELECT user_id, epoch_us(ts) AS c_us, event_id AS click_id
                    FROM events WHERE event_type = 'click'),
         p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
               FROM events WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, p.ts_us,
                (SELECT min(struct_pack(u := c_us, i := click_id)).u FROM c
                 WHERE c.user_id = p.user_id AND c.c_us >= p.ts_us
                   AND c.c_us - p.ts_us <= 600000000) AS asof_ts_us,
                (SELECT min(struct_pack(u := c_us, i := click_id)).i FROM c
                 WHERE c.user_id = p.user_id AND c.c_us >= p.ts_us
                   AND c.c_us - p.ts_us <= 600000000) AS asof_click_id
         FROM p ORDER BY p.event_id""",
    "q_ols_trend" ->
      // the q_moments pattern: HUGEINT moment sums cast DOUBLE, then the
      // IDENTICAL fixed IEEE chain as Stats.olsBy (expression shapes are
      // part of the contract — a different association order rounds
      // differently)
      """WITH a AS (SELECT l_returnflag AS g, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS HUGEINT)) AS DOUBLE) AS sx,
                CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS DOUBLE) AS sy,
                CAST(sum(CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS HUGEINT)
                       * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sxy,
                CAST(sum(CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS HUGEINT)
                       * (CAST(l_shipdate AS DATE) - DATE '1970-01-01')) AS DOUBLE) AS sxx,
                CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS syy
         FROM lineitem GROUP BY 1),
         m AS (SELECT g, n,
                n * sxy - sx * sy AS cov,
                n * sxx - sx * sx AS vx,
                n * syy - sy * sy AS vy,
                sx, sy FROM a)
         SELECT g AS "group", n,
                floor((CASE WHEN vx > 0 THEN cov / vx END) * 1000000.0 + 0.5) / 1000000.0 AS slope,
                floor((CASE WHEN vx > 0 THEN (sy - (cov / vx) * sx) / n END) * 1000000.0 + 0.5) / 1000000.0 AS intercept,
                floor((CASE WHEN vx > 0 AND vy > 0 THEN (cov / vx) * (cov / vy) END) * 1000000.0 + 0.5) / 1000000.0 AS r2
         FROM m ORDER BY "group"""",
    "q_chi2" ->
      // exact integer contingency table; cell terms (O*N - R*C)^2/(N*R*C)
      // summed in (row, col) order via list_reduce — the ordered-fold
      // float rule (see q_temperature_mixture's sumw)
      """WITH cells AS (SELECT o_orderpriority AS r, o_orderstatus AS c,
                          CAST(count(*) AS BIGINT) AS o
                        FROM orders
                        WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
                        GROUP BY 1, 2),
         rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS rtot FROM cells GROUP BY 1),
         ct AS (SELECT c, CAST(sum(o) AS BIGINT) AS ctot FROM cells GROUP BY 1),
         tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                        CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
                        CAST(count(DISTINCT c) AS BIGINT) AS n_cols FROM cells),
         t AS (SELECT cells.r, cells.c,
                 CAST((CAST(cells.o AS HUGEINT) * n - CAST(rt.rtot AS HUGEINT) * ct.ctot)
                      * (CAST(cells.o AS HUGEINT) * n - CAST(rt.rtot AS HUGEINT) * ct.ctot) AS DOUBLE)
                   / CAST(CAST(n AS HUGEINT) * rt.rtot * ct.ctot AS DOUBLE) AS term
               FROM cells JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN tot)
         SELECT n, n_rows, n_cols, (n_rows - 1) * (n_cols - 1) AS dof,
                floor((list_reduce(list_prepend(0.0::DOUBLE,
                  (SELECT list(term ORDER BY r, c) FROM t)), (a, b) -> a + b)) * 1000000.0 + 0.5) / 1000000.0 AS chi2
         FROM tot WHERE n IS NOT NULL""",
    "q_interval_overlap" ->
      // the oracle is the NAIVE inequality join — tiny sides at gate SF;
      // the engine's bucketed-explode plan must agree exactly
      """WITH l AS (SELECT l_suppkey AS sk, l_orderkey*10 + l_linenumber AS lid,
                      CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS ls,
                      CAST(l_shipdate AS DATE) - DATE '1970-01-01' + CAST(l_quantity AS BIGINT) AS le
                    FROM lineitem WHERE l_quantity >= 49),
         r AS (SELECT l_suppkey AS sk, l_orderkey*10 + l_linenumber AS rid,
                      CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS rs,
                      CAST(l_shipdate AS DATE) - DATE '1970-01-01' + CAST(l_quantity AS BIGINT) AS re
                    FROM lineitem WHERE l_quantity <= 2)
         SELECT l.sk AS sk, l.lid, r.rid,
                least(l.le, r.re) - greatest(l.ls, r.rs) + 1 AS overlap_days
         FROM l JOIN r ON l.sk = r.sk AND l.ls <= r.re AND r.rs <= l.le
         ORDER BY 1, 2, 3""",
    "q_k_anon" ->
      // replays the generalization-lattice walk: per-level min group
      // sizes, first level reaching k wins, coarsest level suppresses
      """WITH mg AS (SELECT strftime(o_orderdate, '%Y-%m') AS qi, o_orderpriority AS p FROM orders),
         qg AS (SELECT CAST(year(o_orderdate) AS VARCHAR) || '-Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS qi,
                       o_orderpriority AS p FROM orders),
         yg AS (SELECT CAST(year(o_orderdate) AS VARCHAR) AS qi, o_orderpriority AS p FROM orders),
         mmin AS (SELECT min(c) AS m FROM (SELECT count(*) AS c FROM mg GROUP BY qi, p)),
         qmin AS (SELECT min(c) AS m FROM (SELECT count(*) AS c FROM qg GROUP BY qi, p)),
         ymin AS (SELECT min(c) AS m FROM (SELECT count(*) AS c FROM yg GROUP BY qi, p)),
         lvl AS (SELECT CASE WHEN (SELECT m FROM mmin) >= 50 THEN 'month'
                             WHEN (SELECT m FROM qmin) >= 50 THEN 'quarter'
                             WHEN (SELECT m FROM ymin) >= 50 THEN 'year'
                             ELSE 'year_supp' END AS l)
         SELECT * FROM (
           SELECT 'month' AS gen_level, qi, p AS o_orderpriority, CAST(count(*) AS BIGINT) AS n
           FROM mg WHERE (SELECT l FROM lvl) = 'month' GROUP BY qi, p
           UNION ALL
           SELECT 'quarter', qi, p, CAST(count(*) AS BIGINT)
           FROM qg WHERE (SELECT l FROM lvl) = 'quarter' GROUP BY qi, p
           UNION ALL
           SELECT 'year', qi, p, CAST(count(*) AS BIGINT)
           FROM yg WHERE (SELECT l FROM lvl) IN ('year', 'year_supp') GROUP BY qi, p
           HAVING (SELECT l FROM lvl) = 'year' OR count(*) >= 50)
         ORDER BY qi, o_orderpriority""",
    "q_k_anon_multi" -> kAnonMultiOracleSql(20L),
    "q_l_diversity" ->
      // released groups = those with >= 3 distinct sensitive values
      """WITH g AS (SELECT CAST(year(o_orderdate) AS VARCHAR) AS yr,
                           o_orderpriority AS pr,
                           CAST(count(*) AS BIGINT) AS n,
                           count(DISTINCT o_orderstatus) AS nsv
                    FROM orders GROUP BY yr, pr)
         SELECT yr, pr AS o_orderpriority, n FROM g WHERE nsv >= 3
         ORDER BY yr, pr""",
    "q_hll_distinct" ->
      // HLL replay with the same 30-bit polynomial hash: register index =
      // low 8 bits, rho over the 22 remaining bits via length(bin(x)) —
      // shared by both engines — harmonic sum scaled by 2^23 = 8388608,
      // estimate by integer floor division with the pinned alphaPpm(256) =
      // 718272 numerator
      """WITH h AS (SELECT o_orderpriority AS pr,
              list_reduce(list_prepend(0::BIGINT,
                list_transform(str_split(o_custkey::VARCHAR || ':hll:' || o_custkey::VARCHAR, ''),
                  x -> ascii(x)::BIGINT)),
                (a, b) -> (a * 31 + b) % 1000000007) AS hv
            FROM orders),
         r AS (SELECT pr, hv & 255 AS b,
                      CASE WHEN (hv >> 8) = 0 THEN 23
                           ELSE 23 - length(bin(hv >> 8)) END AS rho
               FROM h),
         regs AS (SELECT pr, b, max(rho) AS mr FROM r GROUP BY pr, b),
         agg AS (SELECT pr, CAST(count(*) AS BIGINT) AS present,
                        CAST(sum(CAST(8388608 AS BIGINT) >> CAST(mr AS INTEGER)) AS BIGINT) AS psum
                 FROM regs GROUP BY pr),
         ex AS (SELECT o_orderpriority AS pr,
                       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact
                FROM orders GROUP BY 1)
         SELECT agg.pr AS o_orderpriority, ex.n_exact,
                CAST(394874207952961536 // (1000000 * (psum + (256 - present) * 8388608)) AS BIGINT) AS est_distinct,
                CAST(256 - present AS BIGINT) AS v_zero,
                CAST(psum + (256 - present) * 8388608 AS BIGINT) AS harm_scaled
         FROM agg JOIN ex ON agg.pr = ex.pr
         ORDER BY 1""",
    "q_t_closeness" ->
      // ordered-EMD t-closeness replay: all integers, HUGEINT products
      // (the Spark side carries decimal(38,0) for the same reason),
      // cumulative sums over the class x global-domain grid, inclusive
      // cross-multiplied threshold at t = 0.15
      """WITH base AS (SELECT CAST(c_nationkey AS BIGINT) AS qi,
                CAST(floor((CAST(round(c_acctbal * 100) AS BIGINT) + 100000)
                           / 100000.0) AS BIGINT) AS sv
              FROM customer WHERE c_acctbal IS NOT NULL),
         gdist AS (SELECT sv, CAST(count(*) AS BIGINT) AS g
                  FROM base GROUP BY sv),
         tot AS (SELECT CAST(sum(g) AS HUGEINT) AS tn,
                        CAST(count(*) AS HUGEINT) AS tm FROM gdist),
         classes AS (SELECT qi, CAST(count(*) AS BIGINT) AS n
                     FROM base GROUP BY qi),
         cvc AS (SELECT qi, sv, CAST(count(*) AS BIGINT) AS c
                 FROM base GROUP BY qi, sv),
         grid AS (SELECT cl.qi, cl.n, gl.sv, gl.g, COALESCE(cvc.c, 0) AS c
                  FROM classes cl CROSS JOIN gdist gl
                  LEFT JOIN cvc ON cvc.qi = cl.qi AND cvc.sv = gl.sv),
         cums AS (SELECT qi, n,
                  SUM(CAST(c AS HUGEINT) * (SELECT tn FROM tot)
                      - CAST(g AS HUGEINT) * CAST(n AS HUGEINT))
                    OVER (PARTITION BY qi ORDER BY sv
                          ROWS UNBOUNDED PRECEDING) AS cs
                  FROM grid),
         rep AS (SELECT qi, CAST(max(n) AS BIGINT) AS n,
                        SUM(abs(cs)) AS emd_num,
                        ((SELECT tm FROM tot) - 1) * CAST(max(n) AS HUGEINT)
                          * (SELECT tn FROM tot) AS emd_den
                 FROM cums GROUP BY qi)
         SELECT qi AS nation, n,
                CAST(CASE WHEN emd_den <= 0 THEN 0 ELSE emd_num END AS BIGINT) AS emd_num,
                CAST(CASE WHEN emd_den <= 0 THEN 0 ELSE emd_den END AS BIGINT) AS emd_den,
                CAST(CASE WHEN emd_den <= 0 THEN 1
                          WHEN emd_num * 1000000 <= emd_den * 150000 THEN 1
                          ELSE 0 END AS BIGINT) AS pass
         FROM rep ORDER BY nation""",
    "q_stream_e2e" ->
      // the streaming gate's checksums are batch-equal by construction, so
      // the oracle IS the plain batch replay (hour index truncates ns->us
      // on both engines for non-negative timestamps)
      """WITH w AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
                           CAST(count(*) AS BIGINT) AS n
                    FROM events GROUP BY 1, 2),
         d AS (SELECT DISTINCT user_id FROM events),
         c AS (SELECT user_id FROM events WHERE event_type = 'click')
         SELECT stage, n_units, aux FROM (
           SELECT '00_ingest' AS stage,
                  (SELECT CAST(COALESCE(sum(n), 0) AS BIGINT) FROM w) AS n_units,
                  (SELECT CAST(count(DISTINCT event_type) AS BIGINT) FROM w) AS aux
           UNION ALL SELECT '01_windows',
                  (SELECT CAST(count(*) AS BIGINT) FROM w),
                  (SELECT CAST(COALESCE(sum(h * n), 0) AS BIGINT) FROM w)
           UNION ALL SELECT '02_dedup',
                  (SELECT CAST(count(*) AS BIGINT) FROM d),
                  (SELECT CAST(COALESCE(sum(user_id), 0) AS BIGINT) FROM d)
           UNION ALL SELECT '03_sink',
                  (SELECT CAST(count(*) AS BIGINT) FROM c),
                  (SELECT CAST(COALESCE(sum(user_id), 0) AS BIGINT) FROM c)
         ) ORDER BY stage""",
    "q_stream_eviction" ->
      // ordered replay of Spark's watermark mechanics over the same
      // event_id arithmetic: wm(b) = running max event time over batches
      // < b minus the 90-minute delay; a row survives iff its window end
      // > wm(its batch); append mode emits a window iff its end <= the
      // final watermark. The construction keeps every comparison >1400 s
      // from a window boundary, so strict-vs-inclusive cannot flip a row.
      """WITH t AS (
           SELECT event_id, event_type, event_id % 8 AS batch,
                  1700000000 + (CASE
                      WHEN event_id % 5 = 0 AND event_id % 8 >= 6
                        THEN event_id % 8 - 6
                      WHEN event_id % 5 = 1 AND event_id % 8 >= 2
                        THEN event_id % 8 - 1
                      ELSE event_id % 8 END) * 3600
                    + (event_id % 7) * 60 + event_id % 13 AS ets
           FROM events),
         bmax AS (SELECT batch, max(ets) AS mx FROM t GROUP BY batch),
         wm AS (SELECT batch,
                       max(mx) OVER (ORDER BY batch
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         - 5400 AS w
                FROM bmax),
         kept AS (SELECT t.event_id, t.event_type, t.ets
                  FROM t JOIN wm ON t.batch = wm.batch
                  WHERE wm.w IS NULL OR ((t.ets // 3600) + 1) * 3600 > wm.w),
         fin AS (SELECT max(ets) - 5400 AS fwm FROM t)
         SELECT CAST(ets // 3600 AS BIGINT) AS h, event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(event_id) AS BIGINT) AS checksum
         FROM kept, fin
         WHERE ((ets // 3600) + 1) * 3600 <= fwm
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_seasonality" ->
      // hour-of-day share/index in integer micros; DuckDB reads the
      // nanos timestamp truncated to us — hour buckets agree exactly
      """WITH c AS (SELECT event_type,
                           (epoch_us(ts) // 3600000000) % 24 AS slot,
                           CAST(count(*) AS BIGINT) AS n
                    FROM events GROUP BY 1, 2),
         t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total
               FROM c GROUP BY 1)
         SELECT c.event_type, CAST(c.slot AS BIGINT) AS slot, c.n,
                CAST(c.n * 1000000 // t.total AS BIGINT) AS share_micros,
                CAST(c.n * 24 * 1000000 // t.total AS BIGINT) AS idx_micros
         FROM c JOIN t ON c.event_type = t.event_type
         ORDER BY 1, 2""",
    "q_skew_report" ->
      """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key,
                           CAST(count(*) AS BIGINT) AS n
                    FROM events GROUP BY 1),
         r AS (SELECT CAST(sum(n) AS BIGINT) AS rows_total,
                      CAST(count(*) AS BIGINT) AS n_keys FROM c)
         SELECT c.key, c.n,
                CAST(c.n * 1000000 // r.rows_total AS BIGINT) AS share_micros,
                r.rows_total, r.n_keys
         FROM c, r
         ORDER BY c.n DESC, c.key LIMIT 10""",
    "q_kfold" ->
      """WITH f AS (SELECT lang,
                           list_reduce(list_prepend(0::BIGINT,
                             list_transform(
                               str_split(doc_id::VARCHAR || ':cv1:' || doc_id::VARCHAR, ''),
                               x -> ascii(x)::BIGINT)),
                             (a, b) -> (a * 31 + b) % 1000000007) % 5 AS fold
                    FROM documents)
         SELECT fold, CAST(count(*) AS BIGINT) AS n,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         FROM f GROUP BY fold ORDER BY fold""",
    "q_curation_e2e" ->
      // the chained pipeline replay: every stage CTE feeds the next, so the
      // oracle verifies the COMPOSITION (quality -> minhash dedup ->
      // token-budget mixture -> packing), not each operator in isolation.
      // The minhash block is q_minhash_dedup's signature/band/verify chain
      // run over the quality survivors; the mixture block is
      // q_token_mixture's threshold + hash rule over the dedup survivors.
      """WITH d0 AS (SELECT doc_id, lang, text FROM documents),
         stq AS (SELECT doc_id, lang, text,
                   list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), w -> w <> '') AS words
                 FROM d0),
         q AS (SELECT doc_id, lang, text FROM stq
               WHERE len(words) BETWEEN 30 AND 100000
                 AND coalesce(list_sum(list_transform(words, w -> length(w))), 0)
                     BETWEEN len(words) * 3 AND len(words) * 10
                 AND len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]'))) * 5 >= len(words) * 4
                 AND len(list_filter(['the','be','to','of','and','that','have','with'],
                      s -> list_contains(list_transform(words, w -> lower(w)), s))) >= 1),
         t2 AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS toks FROM q),
         sh AS (SELECT doc_id, list_transform(
                  range(0, greatest(len(toks) - 5, 0) + 1),
                  i -> array_to_string(toks[(i+1):(i+5)], ' ')) AS shingles FROM t2),
         hs AS (SELECT doc_id, list_transform(shingles, s ->
                  list_reduce(list_prepend(0::BIGINT,
                    list_transform(str_split(s, ''), ch -> ascii(ch)::BIGINT)),
                    (a, c) -> (a * 31 + c) % 2147483647)) AS hh FROM sh),
         sig AS (SELECT doc_id, list_transform(range(0, 16), j ->
                   coalesce(list_min(list_transform(hh,
                     h -> ((2*j + 1) * h + 12345*j) % 2147483647)), 2147483647)) AS sg
                 FROM hs),
         prs AS (SELECT a.doc_id AS idA, b.doc_id AS idB
                 FROM sig a JOIN sig b ON a.doc_id < b.doc_id
                 WHERE list_contains(list_transform(range(0, 4),
                         bd -> a.sg[(bd*4+1):(bd*4+4)] = b.sg[(bd*4+1):(bd*4+4)]), true)
                   AND len(list_filter(range(0, 16), j -> a.sg[j+1] = b.sg[j+1])) >= 8),
         dd AS (SELECT * FROM q WHERE doc_id NOT IN (SELECT idB FROM prs)),
         tokf AS (SELECT doc_id, lang,
                    CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) END AS tok
                  FROM dd),
         tk AS (SELECT lang, CAST(sum(tok) AS BIGINT) AS toks FROM tokf GROUP BY lang),
         th AS (SELECT lang, CAST(round(least(1.0,
                  (CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2000 WHEN 'es' THEN 1000
                             WHEN 'zh' THEN 1000000000 END)::DOUBLE / toks) * 10000) AS BIGINT) AS thr
                FROM tk WHERE lang IN ('en', 'de', 'es', 'zh')),
         mx AS (SELECT d.doc_id, d.lang, d.tok FROM tokf d JOIN th ON d.lang = th.lang
                WHERE list_reduce(list_prepend(0::BIGINT,
                        list_transform(str_split(d.doc_id::VARCHAR || ':mix1:' || d.doc_id::VARCHAR, ''),
                          x -> ascii(x)::BIGINT)),
                        (a, b) -> (a * 31 + b) % 1000000007) % 10000 < th.thr),
         dtok AS (SELECT CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) END AS tok
                  FROM d0),
         qtok AS (SELECT CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) END AS tok
                  FROM q),
         ddtok AS (SELECT tok FROM tokf),
         mxt AS (SELECT CAST(coalesce(sum(tok), 0) AS BIGINT) AS t FROM mx)
         SELECT stage, n_units, n_tokens FROM (
           SELECT '00_ingest' AS stage, CAST(count(*) AS BIGINT) AS n_units,
                  CAST(coalesce(sum(tok), 0) AS BIGINT) AS n_tokens FROM dtok
           UNION ALL
           SELECT '01_quality', CAST(count(*) AS BIGINT),
                  CAST(coalesce(sum(tok), 0) AS BIGINT) FROM qtok
           UNION ALL
           SELECT '02_dedup', CAST(count(*) AS BIGINT),
                  CAST(coalesce(sum(tok), 0) AS BIGINT) FROM ddtok
           UNION ALL
           SELECT '03_mixture', CAST(count(*) AS BIGINT),
                  CAST(coalesce(sum(tok), 0) AS BIGINT) FROM mx
           UNION ALL
           SELECT '04_pack', (t + 511) // 512, t FROM mxt)
         ORDER BY stage"""
  )
}
