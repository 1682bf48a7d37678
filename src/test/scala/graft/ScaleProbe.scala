package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling probe (test scope): replicate the sf0.1 documents table K times
  * with per-replica text variation (distinct signatures, not collapsed
  * duplicates), run the core corpus operators at K=1 and K=SCALE_K, and
  * report the time ratio vs the ideal K. A super-linear ratio flags an
  * operator whose plan would not survive the 100 TB scale-up.
  *
  *   SCALE_K=5 sbt "Test/runMain graft.ScaleProbe"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val k = sys.env.getOrElse("SCALE_K", "5").toInt
    val spark = GateHarness.session(cpus = 32)
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")

    def replicate(n: Int): DataFrame =
      if (n == 1) base
      else base.crossJoin(spark.range(n).select(col("id").as("_rep")))
        .select(
          (col("doc_id") + col("_rep") * 1000000000L).as("doc_id"),
          concat(col("text"), lit(" rep"), col("_rep")).as("text"),
          col("lang"), col("source"), col("n_chars"))

    import graft.dedup.Dedup
    import graft.operators.{HeavyHitters, Packing, TfIdf}
    import graft.functions.gf
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "exact_dedup" -> (d => Dedup.exact(d, "doc_id", "text")),
      "minhash_lsh" -> (d => Dedup.minhashLsh(d, "doc_id", "text")),
      "simhash_pairs" -> (d => Dedup.simhashPairs(d, "doc_id", "text")),
      "line_dedup" -> (d => Dedup.dedupLines(d, "doc_id", "text", 3, " table ")),
      "tfidf" -> (d => TfIdf.topTerms(d, "doc_id", "text", 3)),
      "heavy_hitters" -> (d => HeavyHitters.topTokens(d, "text", 0.01)),
      "pack_sequences" -> (d =>
        Packing.packSequences(d, "doc_id", gf.tokenCount(col("text")), 512)),
      // r20: histogram best-fit packing — driver greedy is O(classes x
      // groups) by construction; the probe checks the DISTRIBUTED half
      // (rank + broadcast-run join) stays linear
      "pack_best_fit" -> (d =>
        Packing.packBestFit(d, gf.tokenCount(col("text")), "doc_id", 512)),
      "rank_bins" -> (d => Packing.rankBins(d, Seq(col("n_chars")), "doc_id", 10)),
      "dup_spans" -> (d => Dedup.dupSpans(d, "doc_id", "text", 10)),
      "unigram_lm" -> (d => graft.operators.UnigramLm.score(d, "doc_id", "text")),
      "pctl_by_source" -> (d => graft.operators.Calibration.percentileBy(
        d.select(col("doc_id"), col("source"), gf.qualityScore(col("text")).as("q")),
        "source", col("q"), "doc_id")),
      // two-phase global rank × 2 + full-outer fusion join: cheap scorings
      // (quality, n_chars) so the ratio isolates the rank/join machinery
      "rrf_fusion" -> (d => graft.operators.Fusion.rrf(Seq(
        d.select(col("doc_id"), gf.qualityScore(col("text")).as("score")),
        d.select(col("doc_id"), col("n_chars").cast("double").as("score"))),
        "doc_id", "score")),
      // round-6 additions: one corpus scan + aggregate-join shapes
      "bigram_lm" -> (d => graft.operators.BigramLm.score(d, "doc_id", "text")),
      "corpus_stats" -> (d => graft.operators.CorpusStats.bySource(
        d, "text", Seq("source", "lang"))),
      "dedup_keep_best" -> (d =>
        Dedup.exactRowsKeepBest(d, "doc_id", "text", col("n_chars"))),
      "chunk_tokens" -> (d => d.select(col("doc_id"),
        posexplode(gf.chunkTokens(col("text"), 64, 16)).as(Seq("idx", "chunk")))),
      "lexical_diversity" -> (d =>
        graft.operators.CorpusStats.lexicalDiversity(d, "doc_id", "text")),
      // round-8 additions: pure map-stage filters (trivially linear by
      // construction — probed to prove it, not because a shuffle could hide)
      "gopher_c4_moji" -> (d => d.select(col("doc_id"),
        gf.gopherKeep(gf.fixMojibake(col("text"))).as("g"),
        gf.c4Keep(col("text")).as("c"))),
      // round-10 additions
      "repetition_a12" -> (d => d.select(col("doc_id"),
        gf.repetitionKeepText(regexp_replace(col("text"), " the ", "\n")).as("k"))),
      "dsir_score" -> {
        // fixed 1024-entry λ table (zeros fine — the probe measures the
        // hashing + broadcast-sum map stage, not table quality)
        val table = Array.fill(1 << 10)(7L)
        d => graft.operators.Dsir.scoreMicros(d, "text", table)
      },
      "quality_clf_score" -> {
        val coef = Array.tabulate(1 << 12)(i => ((i % 17) - 8).toLong)
        d => graft.operators.QualityClassifier.marginMicros(d, "text", coef, 42L)
      })

    // round-10b additions (section "r10b"): the session's new operators.
    // fuzzy_join salts every shingle with the replica id — replicas are
    // text-identical by construction, so unsalted sets would make the
    // OUTPUT grow K-fold-per-record (real duplicates, not machinery); the
    // salt keeps matches within-replica so the ratio isolates the
    // prefix-filter/verify machinery at Kx records
    val opsR10b: Seq[(String, DataFrame => DataFrame)] = Seq(
      "fuzzy_join_sh" -> { d =>
        val rep = (col("doc_id") / 1000000000L).cast("long").cast("string")
        val sh = transform(
          gf.wordShingles(array_join(slice(split(trim(lower(col("text"))), "\\s+"), 1, 12), " "), 2),
          s => concat(rep, lit(":"), s))
        val t = d.select(col("doc_id"), sh.as("ts"))
        graft.operators.FuzzyJoin.jaccardJoin(
          t.where(col("doc_id") % 2 === 0), t.where(col("doc_id") % 2 === 1),
          "doc_id", "ts", 1, 2)
      },
      "sorted_blocking" -> (d => graft.operators.Blocking.sortedNeighborhood(
        d, "doc_id", lower(substring(col("text"), 1, 20)), window = 2)),
      "readability_prep" -> (d => d.select(col("doc_id"),
        gf.readabilityStats(col("text")).getField("fk_milli").as("fk"),
        gf.spanCorrupt(col("doc_id"), col("text")).getField("n_masked").as("nm"),
        gf.luhnValid(col("text")).as("lv"),
        gf.fimTransform(col("doc_id"), col("text")).as("fim"))),
      "ctfidf" -> (d => graft.operators.TfIdf.classTopTerms(d, "lang", "text", 10)),
      "ks_drift" -> (d => graft.operators.Stats.ksDistance(d, col("n_chars"), col("doc_id"))),
      "winsorize" -> (d => graft.operators.Calibration.winsorize(
        d, col("n_chars"), "doc_id", 10, 990)),
      "temperature_mix" -> (d => graft.operators.Sampling.temperatureMixture(
        d, "doc_id", "lang", budgetDocs = 1000L, alphaQuarters = 2, salt = "sp")),
      // r19: fractional-epoch upsampling — budgets derived from observed
      // mass so epochs stay exactly 2.0/0.5 at every K (a fixed budget
      // would compare different mixtures, not the machinery); the derive
      // agg is timed as part of the arm, itself linear
      "epoch_mix" -> { d =>
        val mass = d.groupBy(col("lang")).agg(sum(col("n_chars")).as("t"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        graft.operators.Sampling.epochMixture(d, "doc_id", "lang",
          col("n_chars"),
          Map("en" -> mass("en") * 2L, "de" -> mass("de") / 2L), "sp")
      },
      "rake" -> (d => graft.operators.Rake.keywords(d, "doc_id", "text",
        graft.functions.gf.EnglishStopwords ++ Seq("data", "table", "row", "key", "value", "line"),
        maxPhraseLen = 4, topK = 3)),
      "domain_ops" -> { d =>
        val dom = concat(lit("d"), col("doc_id") % 97)
        graft.operators.DomainOps.reputation(d, "doc_id", dom,
          graft.functions.gf.tokenCount(col("text")), 54000L)
      },
      "bleu" -> { d =>
        val toks = split(trim(lower(col("text"))), "\\s+")
        graft.eval.RetrievalEval.bleuStats(d.select(col("doc_id").as("query_id"),
          array_join(slice(toks, 1, 10), " ").as("generated"),
          array_join(slice(toks, 3, 12), " ").as("reference")))
      },
      "chrf_eval" -> { d =>
        val toks = split(trim(lower(col("text"))), "\\s+")
        graft.eval.RetrievalEval.chrF(d.select(col("doc_id").as("query_id"),
          array_join(slice(toks, 1, 10), " ").as("generated"),
          array_join(slice(toks, 3, 12), " ").as("reference")))
      },
      "checks_suite" -> { d =>
        import graft.operators.Checks
        Checks.run(d, Seq(
          Checks.RowCheck("text_not_null", Checks.notNull(col("text"))),
          Checks.RowCheck("lang_domain", Checks.inSet(col("lang"),
            Seq("en", "de", "fr", "es", "zh"))),
          Checks.UniqueCheck("doc_id_unique", Seq(col("doc_id")))))
      },
      "rfm" -> (d => graft.operators.Rfm.scores(d, "source",
        col("n_chars"), col("n_chars"), asOf = 100000L)),
      "robust_outliers" -> (d => graft.operators.Stats.robustOutliers(
        d, col("lang"), col("n_chars"), col("doc_id"))),
      // the giant-group regime the histogram + bucketed-prefix path exists
      // for: half the corpus lands in ONE group — a per-group sort window
      // would serialize it onto one task and go super-linear here
      "robust_outliers_giant" -> (d => graft.operators.Stats.robustOutliers(
        d, when(col("doc_id") % 2 === 0, lit("big"))
          .otherwise(concat(lit("s"), col("doc_id") % 97)),
        col("n_chars") * 1000 + col("doc_id") % 1000, col("doc_id"))),
      "cdc_merge" -> { d =>
        val base = d.where(col("doc_id") % 3 =!= 0)
          .select(col("doc_id"), col("n_chars"))
        val ch = d.select(col("doc_id"), col("n_chars"),
          when(col("doc_id") % 7 === 0, lit("D")).otherwise(lit("U")).as("op"),
          lit(1L).as("seq"))
        graft.operators.Cdc.applyChanges(base, ch, Seq("doc_id"), "op", "seq")
      },
      // edit_join salts the string with the replica id (same rationale as
      // fuzzy_join_sh: keep matches within-replica so output stays linear
      // and the ratio isolates the segment-index machinery)
      "edit_join" -> { d =>
        val rep = (col("doc_id") / 1000000000L).cast("long").cast("string")
        val t = d.select(col("doc_id"),
          concat(rep, lit(":"), substring(lower(col("text")), 1, 24)).as("p"))
        graft.operators.EditJoin.join(
          t.where(col("doc_id") % 2 === 0), t.where(col("doc_id") % 2 === 1),
          "doc_id", "p", k = 2)
      })

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // SAME protocol at both sizes — min of two runs after a warmup pass.
    // A single cold Kx run would fold one-time costs (AQE stats, JIT,
    // within-operator checkpoint materialization) into the ratio and read
    // as super-linearity that the per-stage plans don't have.
    def measure(f: DataFrame => DataFrame, d: DataFrame): Double = {
      f(d).queryExecution.toRdd.count() // warm
      math.min(time(f(d).queryExecution.toRdd.count()),
        time(f(d).queryExecution.toRdd.count()))
    }
    lazy val small = replicate(1).localCheckpoint()
    lazy val big = replicate(k).localCheckpoint()
    println(f"[scale] K=$k  (ratio ~ $k%d.0 is linear)")
    // SCALE_SECTIONS=ingest (comma list of: core,graph,events,ingest)
    // restricts the run — iteration aid for probing one family at a
    // second K without re-timing the whole suite
    val sections = sys.env.get("SCALE_SECTIONS")
      .map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("core", "graph", "events", "ingest", "ann", "r10b",
        "r12", "r13", "r14", "r16", "r17"))
    // SCALE_OPS=a,b picks single operators out of any section — the cheap
    // way to re-probe a named family at a bigger K (e.g. the 25x runs)
    val opsFilter = sys.env.get("SCALE_OPS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(name: String): Boolean = opsFilter.forall(_(name))
    // corpora parameters are BY-NAME and only touched when some op in the
    // section survives the SCALE_OPS filter — otherwise a targeted run
    // (e.g. SCALE_OPS=ivf_topk_many) would still replicate and checkpoint
    // every section's Kx corpus for nothing
    def runAll(ops: Seq[(String, DataFrame => DataFrame)],
               sm: => DataFrame, bg: => DataFrame): Unit =
      if (ops.exists(o => wanted(o._1))) {
        val (smV, bgV) = (sm, bg)
        ops.foreach { case (name, f) =>
          if (wanted(name)) {
            val t1 = measure(f, smV)
            val tk = measure(f, bgV)
            println(f"[scale] $name%-16s 1x=${t1}%6.2fs  ${k}x=${tk}%7.2fs  ratio=${tk / t1}%5.1f")
          }
        }
      }
    if (sections("core")) runAll(ops, small, big)
    if (sections("r10b")) runAll(opsR10b, small, big)

    // round-12 additions. interval_overlap and linkage_score key their
    // joins by (lang/source, replica) — the edit_join salting rationale:
    // matches stay within-replica so output grows linearly and the ratio
    // isolates the bucketed-explode / scoring machinery
    val opsR12: Seq[(String, DataFrame => DataFrame)] = Seq(
      "interval_overlap" -> { d =>
        val rep = (col("doc_id") / 1000000000L).cast("long")
        val iv = d.select(concat(col("lang"), lit(":"), rep).as("key"),
          col("doc_id"), col("n_chars").as("s0"),
          (col("n_chars") + col("doc_id") % 50).as("e0"))
        graft.operators.IntervalJoin.overlap(
          iv.where(col("doc_id") % 2 === 0)
            .select(col("key"), col("doc_id").as("lid"), col("s0").as("ls"), col("e0").as("le")),
          iv.where(col("doc_id") % 2 === 1)
            .select(col("key"), col("doc_id").as("rid"), col("s0").as("rs"), col("e0").as("re")),
          "ls", "le", "rs", "re", width = 32, keys = Seq("key"))
      },
      "k_anon_walk" -> (d => graft.operators.Privacy.kAnonymize(d,
        Seq("source" -> col("source"), "lang" -> col("lang"),
          "all" -> lit("all")),
        Seq(col("doc_id") % 3), k = 5000L)),
      "ols_trend" -> (d => graft.operators.Stats.olsBy(d, col("lang"),
        col("n_chars"), col("doc_id") % 1000)),
      "chi2" -> (d => graft.operators.Stats.chiSquare(d, col("lang"), col("source"))),
      "linkage_score" -> { d =>
        val rep = (col("doc_id") / 1000000000L).cast("long")
        val t = d.select(col("doc_id"), concat(col("lang"), lit(":"), rep).as("key"),
          col("source"), col("n_chars"))
        val pairs = t.select(col("doc_id").as("l_id"), col("key"),
            col("source").as("l_src"), col("n_chars").as("l_n"))
          .join(t.select((col("doc_id") - 1).as("l_id"), col("key"),
            col("source").as("r_src"), col("n_chars").as("r_n")), Seq("l_id", "key"))
        graft.operators.Linkage.fellegiSunter(pairs, Seq(
          graft.operators.Linkage.Field("src", col("l_src") === col("r_src"), 0.9, 0.1),
          graft.operators.Linkage.Field("len",
            abs(col("l_n") - col("r_n")) <= 20L, 0.95, 0.2)),
          upperMb = 3000L, lowerMb = -3000L)
      })
    if (sections("r12")) runAll(opsR12, small, big)
    // round-13 additions. asof_forward_hot is THE probe for the advice
    // fix: ~5 hot keys whose per-key group grows linearly with K — the old
    // first()-over-unboundedFollowing frame re-aggregated the suffix per
    // row (ratio ~K^2), the descending running frame is ~K. media_pipeline
    // exercises the synthetic-corpus generator + dHash + pigeonhole pairs
    // (groups are replica-disjoint, so pair volume grows linearly).
    val opsR13: Seq[(String, DataFrame => DataFrame)] = Seq(
      "asof_forward_hot" -> { d =>
        val l = d.select(col("lang").as("k"), col("doc_id").as("t"),
          col("n_chars"))
        val r = d.select(col("lang").as("k"), (col("doc_id") + 7).as("t"),
          col("source").as("payload"))
        graft.operators.AsofJoin.asofForward(l, r, "k", "t")
      },
      "asof_backward_hot" -> { d =>
        val l = d.select(col("lang").as("k"), col("doc_id").as("t"),
          col("n_chars"))
        val r = d.select(col("lang").as("k"), (col("doc_id") + 7).as("t"),
          col("source").as("payload"))
        graft.operators.AsofJoin.asofBackward(l, r, "k", "t")
      },
      "classifier_margin" -> (d => graft.operators.QualityClassifier
        .marginMicros(d, "text", Array.tabulate(1 << 12)(i => i.toLong), 0L)),
      "media_pipeline" -> { d =>
        val corpus = d.select(col("doc_id"),
          graft.operators.MediaCorpus.bytesCol(col("doc_id")).as("bytes"))
        graft.operators.MediaOps.imageNearDupPairs(corpus, "doc_id", "bytes",
          maxHamming = 6)
      },
      "k_anon_lattice" -> (d => graft.operators.Privacy.kAnonymizeMulti(d,
        Seq(Seq("source" -> col("source"), "all" -> lit("*")),
          Seq("lang" -> col("lang"), "all" -> lit("*"))),
        Seq(col("doc_id") % 3), k = 5000L)),
      "l_diversity" -> (d => graft.operators.Privacy.lDiversify(d,
        Seq(col("lang"), col("source")), col("doc_id") % 7, l = 7L)),
      "seasonality" -> (d => graft.operators.EventAnalytics.seasonality(
        d.select(col("lang"), (col("doc_id") * 1000L).as("ts")),
        "lang", "ts", slotNs = 7000L, nSlots = 24)),
      "key_skew" -> (d => graft.operators.Profiler.keySkew(d, col("source"), 10)),
      "kfold" -> (d => graft.operators.Sampling.kFold(d, "doc_id", 5, "cv1")
        .groupBy(col("fold")).agg(count(lit(1)).as("n"))),
      "containment" -> (d => Dedup.containmentPairs(d, "doc_id", "text",
        tauPermille = 700)),
      // batch half vs fingerprinted other half — both replicate, so the
      // exact anti-join, band join, and within-batch pass all grow linearly
      "dedup_increment" -> { d =>
        val hist = Dedup.fingerprints(d.where(col("doc_id") % 2 === 0),
          "doc_id", "text")
        Dedup.dedupIncrement(d.where(col("doc_id") % 2 === 1),
          "doc_id", "text", hist)
      },
      // ~20 hot keys whose per-key partitions grow linearly with K: the
      // RANGE frame must stay incremental (two pointers), never re-scan
      "rolling_window" -> (d => graft.operators.EventAnalytics.rollingByKey(
        d.select(col("source"), col("doc_id").as("ts"), col("n_chars")),
        "source", "ts", col("n_chars"), 1000000L)))
    if (sections("r13")) runAll(opsR13, small, big)

    // round-14 additions. audio/video pipelines ride replica-disjoint
    // synthetic corpora (group = doc_id/4; the 1e9 replica offset keeps
    // groups apart, so near-dup pair volume grows linearly and the ratio
    // isolates generation + decode + hash + join machinery). t_closeness
    // keys classes by lang — class COUNT stays fixed while class SIZE
    // grows Kx, the realistic release shape; the domain grid is constant,
    // so only the three corpus aggregations should scale. hll keys by
    // lang too: registers saturate at m per group, so everything after
    // the first map-side combine is size-independent.
    val opsR14: Seq[(String, DataFrame => DataFrame)] = Seq(
      "audio_pipeline" -> { d =>
        val corpus = d.select(col("doc_id"),
          graft.operators.AudioCorpus.bytesCol(col("doc_id")).as("bytes"))
        graft.operators.AudioOps.audioNearDupPairs(corpus, "doc_id", "bytes",
          maxHamming = 6)
      },
      "video_pipeline" -> { d =>
        val corpus = d.select(col("doc_id"),
          graft.operators.VideoCorpus.bytesCol(col("doc_id")).as("bytes"))
        val dec = graft.operators.VideoOps.frames(corpus, "doc_id", "bytes",
            everyN = graft.operators.VideoCorpus.SampleEvery)
          .select(col("doc_id"), col("fidx"),
            graft.operators.MediaOps.dHash(col("frame")).as("dhash"))
          .where(col("dhash").isNotNull)
        graft.operators.VideoOps.sceneCuts(dec, "doc_id", "fidx", "dhash",
          graft.operators.VideoCorpus.CutThreshold)
      },
      "video_signature" -> { d =>
        val corpus = d.select(col("doc_id"),
          graft.operators.VideoCorpus.bytesCol(col("doc_id")).as("bytes"))
        val dec = graft.operators.VideoOps.frames(corpus, "doc_id", "bytes",
            everyN = graft.operators.VideoCorpus.SampleEvery)
          .select(col("doc_id"),
            graft.operators.MediaOps.dHash(col("frame")).as("dhash"))
          .where(col("dhash").isNotNull)
        val sigs = graft.operators.VideoOps.bitMajoritySignature(
          dec, "doc_id", "dhash")
        graft.operators.VideoOps.videoNearDupPairs(sigs, "doc_id", "signature", 6)
      },
      "t_closeness" -> (d => graft.operators.Privacy.tClosenessReport(d,
        Seq(col("lang")), col("n_chars") % 37, tPpm = 150000L)),
      "hll_distinct" -> (d => graft.operators.Hll.approxDistinct(d,
        Seq(col("lang")), col("doc_id"), p = 8)))
    if (sections("r14")) runAll(opsR14, small, big)

    // round-16 additions: the retrieval one-pass multi-query paths. The
    // query set is FIXED while the corpus replicates, so output volume per
    // query grows linearly and the ratio isolates the explode+join+agg
    // (bm25) / broadcast-probe+window (ivf) machinery — exactly the
    // 100 TB shape: a bounded eval set scored against a growing corpus.
    if (sections("r16")) {
      val vocab = Seq("spark", "table", "row", "key", "value", "hash",
        "merge", "batch", "scan", "window", "sort", "line", "fast", "slow",
        "part", "agg")
      val qts = (0 until 20).flatMap { q =>
        (0 until 3).map(j => (q.toLong, vocab((q * 3 + j) % vocab.size)))
      }
      val bm25Ops: Seq[(String, DataFrame => DataFrame)] = Seq(
        "bm25_many" -> { d =>
          import spark.implicits._
          val terms = qts.toDF("query_id", "term")
          graft.operators.Bm25.scoreMany(d, "doc_id", "text", terms)
        },
        // property attribution: pure per-doc map (chunk + exact/fuzzy span
        // search) — probed to prove the per-row text work stays linear
        "attr_props" -> { d =>
          val docs = graft.sources.DocRead.fromDataFrame(
            d.where(length(col("text")) >= 73), Some("doc_id"), Some("text"))
          docs.map { doc =>
            val t = doc.text
            val els = t.grouped(60).zipWithIndex
              .map { case (c, i) => graft.model.Element.text(i, "chunk", c) }.toSeq
            doc.copy(elements = els,
              properties = doc.properties + ("val" -> t.substring(60, 72)))
          }.attributeProperties(Seq("val")).toDF
        })
      runAll(bm25Ops, small, big)
      if (wanted("ivf_topk_many")) {
        import graft.ann.Ann
        val emb1 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
          .localCheckpoint()
        def embK(n: Int): DataFrame =
          if (n == 1) emb1
          else emb1.crossJoin(spark.range(n).select(col("id").as("_rep")))
            .select((col("vec_id") + col("_rep") * 1000000000L).as("vec_id"),
              transform(col("embedding"),
                x => x + col("_rep").cast("double") * lit(0.001)).as("embedding"))
            .localCheckpoint()
        val cents = Ann.sampleCentroids(emb1, "vec_id", "embedding", 16)
        val queries = emb1.orderBy(col("vec_id")).limit(20).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val f: DataFrame => DataFrame = d =>
          Ann.ivfTopKMany(d, "vec_id", "embedding", cents, queries,
            k = 10, nprobe = 4)
        val t1 = measure(f, embK(1))
        val tk = measure(f, embK(k))
        println(f"[scale] ivf_topk_many    1x=${t1}%6.2fs  ${k}x=${tk}%7.2fs  ratio=${tk / t1}%5.1f")
      }
    }

    // round-17 additions: the r16 I/O seams. search_read replays the
    // distributed sliced read over a K×-ingested fake index (slice count
    // grows with the corpus via sliceTarget; pages tile slices — the
    // probe isolates the PIT + slice + page loop machinery). query_docs
    // holds the QUERY corpus fixed while the index replicates — the
    // bounded-eval-against-growing-corpus shape (bm25_many rationale).
    // jdbc_read times the range-partitioned JDBC scan 1× vs K× and
    // prints the single-partition K× time alongside (the parallelism the
    // partitioned read buys is the point of the seam).
    if (sections("r17")) {
      import graft.sources._
      def hitsOf(d: DataFrame): Seq[SearchHit] =
        d.select(col("doc_id"), substring(col("text"), 1, 120).as("t"),
            col("lang")).collect().toSeq
          .map(r => SearchHit(f"d${r.getLong(0)}%012d", 1.0, Map(
            "doc_id" -> r.getLong(0).toString, "text" -> r.getString(1),
            "properties.lang" -> r.getString(2))))
      def ingest(n: Int): String = {
        val ns = s"probe:sr:$n"
        FakeSearch.dropNamespace(ns)
        FakeSearch.ensureIndex(ns, "idx")(hitsOf(replicate(n)))
        ns
      }
      if (wanted("search_read") || wanted("query_docs")) {
        val ns1 = ingest(1); val nsK = ingest(k)
        if (wanted("search_read")) {
          val f = (ns: String) => SearchRead.read(spark,
            FakeSearchClientFactory(ns), "idx", SearchQuery.MatchAll,
            pageSize = 200, sliceTarget = 500).toDF
          def m(ns: String): Double = {
            f(ns).queryExecution.toRdd.count()
            math.min(time(f(ns).queryExecution.toRdd.count()),
              time(f(ns).queryExecution.toRdd.count()))
          }
          val t1 = m(ns1); val tk = m(nsK)
          println(f"[scale] search_read      1x=${t1}%6.2fs  ${k}x=${tk}%7.2fs  ratio=${tk / t1}%5.1f")
        }
        if (wanted("query_docs")) {
          // fixed 24-query corpus: term per lang + match probes
          val langs = base.select(col("lang")).distinct().collect()
            .map(_.getString(0)).sorted.toSeq
          val words = Seq("spark", "table", "row", "key", "value", "hash",
            "merge", "batch", "scan", "window", "sort", "line", "fast",
            "slow", "part", "agg")
          val qdocs = langs.map(l => graft.model.Document.of(s"lang_$l",
            text = SearchWire.queryJson(
              SearchQuery.Term("properties.lang", l)).toString,
            properties = Map("index" -> "idx"))) ++
            words.map(w => graft.model.Document.of(s"m_$w",
              text = SearchWire.queryJson(SearchQuery.Match("text", w)).toString,
              properties = Map("index" -> "idx")))
          val f = (ns: String) => graft.docset.DocSet.of(spark, qdocs)
            .query(FakeSearchClientFactory(ns), pageSize = 200).toDF
          def m(ns: String): Double = {
            f(ns).queryExecution.toRdd.count()
            math.min(time(f(ns).queryExecution.toRdd.count()),
              time(f(ns).queryExecution.toRdd.count()))
          }
          val t1 = m(ns1); val tk = m(nsK)
          println(f"[scale] query_docs       1x=${t1}%6.2fs  ${k}x=${tk}%7.2fs  ratio=${tk / t1}%5.1f")
        }
        FakeSearch.dropNamespace(ns1); FakeSearch.dropNamespace(nsK)
      }
      if (wanted("jdbc_read")) {
        val dbDir = java.nio.file.Files.createTempDirectory("derbyprobe").toString
        val url = s"jdbc:derby:$dbDir/probedb;create=true"
        def load(n: Int, table: String): Long = {
          val rows = replicate(n).select(col("doc_id").as("id"),
            substring(col("text"), 1, 120).as("t"))
          rows.write.mode("overwrite").jdbc(url, table, new java.util.Properties())
          rows.count()
        }
        val n1 = load(1, "docs1"); val nK = load(k, "docsk")
        def rd(table: String, hi: Long, parts: Int): DataFrame =
          DocRead.jdbc(spark, url, table, docIdField = Some("id"),
            partitionColumn = Some("id"), lowerBound = 0L,
            upperBound = hi, numPartitions = parts).toDF
        def m(f: => DataFrame): Double = {
          f.queryExecution.toRdd.count()
          math.min(time(f.queryExecution.toRdd.count()),
            time(f.queryExecution.toRdd.count()))
        }
        val hiK = k.toLong * 1000000000L + 1000000L
        val t1 = m(rd("docs1", 1000000L, 8))
        val tk = m(rd("docsk", hiK, 8))
        val tk1 = m(rd("docsk", hiK, 1))
        println(f"[scale] jdbc_read        1x=${t1}%6.2fs  ${k}x=${tk}%7.2fs  ratio=${tk / t1}%5.1f  (${k}x single-partition=${tk1}%6.2fs)")
        assert(n1 * k == nK)
      }
    }

    // k-truss over the degree-bounded part co-occurrence graph, K disjoint
    // id-offset copies (the link_predict rationale: triangles exist there,
    // and degree caps are how production pipelines feed cohesion peels)
    if (sections("r12") && wanted("ktruss_part")) {
      val pe1 = graft.operators.Basket.frequentPairs(
        spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet"),
        "l_orderkey", "l_partkey", minSupport = 2).localCheckpoint()
      def peK(n: Int): DataFrame =
        if (n == 1) pe1
        else pe1.crossJoin(spark.range(n).select(col("id").as("_rep")))
          .select((col("item_a") + col("_rep") * 1000000000L).as("item_a"),
            (col("item_b") + col("_rep") * 1000000000L).as("item_b"))
          .localCheckpoint()
      val f = (e: DataFrame) =>
        graft.operators.Triangles.kTruss(e, "item_a", "item_b", k = 4, rounds = 2)
      val t1 = measure(f, peK(1))
      val tk = measure(f, peK(k))
      println(f"[scale] ktruss_part      1x=${t1}%6.2fs  ${k}x=${tk}%7.2fs  ratio=${tk / t1}%5.1f")
    }

    // graph operators scale over a replicated edge list (K disjoint copies
    // with offset vertex ids — linear work by construction, so the ratio
    // isolates the shuffle/join machinery)
    import graft.operators.{PageRank, Triangles}
    lazy val edges1 = {
      val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      val o = spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("l_suppkey").as("s"), col("o_custkey").as("d")).distinct()
        .localCheckpoint()
    }
    def edgesK(n: Int): DataFrame =
      if (n == 1) edges1
      else edges1.crossJoin(spark.range(n).select(col("id").as("_rep")))
        // SAME offset on both endpoints: replicas stay isomorphic to the
        // 1x graph AND disjoint from each other (distinct per-column
        // offsets would merge vertices across replicas)
        .select((col("s") + col("_rep") * 1000000000L).as("s"),
          (col("d") + col("_rep") * 1000000000L).as("d"))
        .localCheckpoint()
    val graphOps: Seq[(String, DataFrame => DataFrame)] = Seq(
      "pagerank_5r" -> (e => PageRank.pageRank(e, "s", "d", iterations = 5)),
      // seeds live in replica 0 of both sizes; each round still joins the
      // FULL edge table (zero-mass vertices ride as rows), so the ratio
      // measures the per-round join machinery at Kx edges
      "pagerank_pers" -> (e => PageRank.personalized(e, "s", "d",
        seeds = Seq(1L, 2L, 3L, 4L, 5L), iterations = 5)),
      "triangles" -> (e => Triangles.enumerate(e, "s", "d")),
      "clustering_coeff" -> (e => Triangles.clusteringCoefficient(e, "s", "d")),
      "modularity" -> { e =>
        val c = e.select(least(col("s"), col("d")).as("a"),
          greatest(col("s"), col("d")).as("b")).where(col("a") =!= col("b")).distinct()
        val labels = c.select(col("a").as("node")).unionAll(c.select(col("b").as("node")))
          .distinct().select(col("node"), (col("node") % 50).as("label"))
        graft.operators.Modularity.of(c, "a", "b", labels, "node", "label")
      })
    if (sections("graph")) runAll(graphOps, edgesK(1), edgesK(k))

    // link_predict probes on the DEGREE-BOUNDED part co-purchase graph
    // (the gate's graph): 2-hop work is sum(deg^2) BY DEFINITION, so the
    // hub-heavy supplier-customer graph above would measure the statistic's
    // inherent blowup, not the machinery (and OOMs at 10x) — real pipelines
    // cap degrees upstream exactly like this
    if (sections("graph") && wanted("link_predict")) {
      val pe1 = graft.operators.Basket.frequentPairs(
        spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet"),
        "l_orderkey", "l_partkey", minSupport = 2).localCheckpoint()
      def peK(n: Int): DataFrame =
        if (n == 1) pe1
        else pe1.crossJoin(spark.range(n).select(col("id").as("_rep")))
          .select((col("item_a") + col("_rep") * 1000000000L).as("item_a"),
            (col("item_b") + col("_rep") * 1000000000L).as("item_b"))
          .localCheckpoint()
      val f = (e: DataFrame) => graft.operators.LinkPredict.scores(e, "item_a", "item_b")
      val t1 = measure(f, peK(1))
      val tk = measure(f, peK(k))
      println(f"[scale] link_predict     1x=${t1}%6.2fs  ${k}x=${tk}%7.2fs  ratio=${tk / t1}%5.1f")
    }

    // event-analytics operators scale over replicated events with offset
    // user ids (disjoint user populations — linear work by construction)
    import graft.operators.EventAnalytics
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    lazy val events1 = {
      val raw = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      val tsNs = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => col("ts")
        case _ => unix_micros(col("ts").cast("timestamp")) * lit(1000L)
      }
      raw.select(col("user_id"), col("event_type"), tsNs.as("tsl"))
        .localCheckpoint()
    }
    def eventsK(n: Int): DataFrame =
      if (n == 1) events1
      else events1.crossJoin(spark.range(n).select(col("id").as("_rep")))
        .select((col("user_id") + col("_rep") * 1000000000L).as("user_id"),
          col("event_type"), col("tsl"))
        .localCheckpoint()
    val eventOps: Seq[(String, DataFrame => DataFrame)] = Seq(
      "funnel" -> (e => EventAnalytics.funnel(e, "user_id", "event_type", "tsl",
        Seq("view", "click", "purchase"), windowNs = 7L * 86400 * 1000000000L)),
      "retention" -> (e => EventAnalytics.retention(e, "user_id", "tsl",
        bucketNs = 7L * 86400 * 1000000000L)))
    if (sections("events")) runAll(eventOps, eventsK(1), eventsK(k))

    // document-ingest front door: the reference's real PDF corpus
    // replicated Kx with DISTINCT paths (docId#rep), through
    // partitionAuto -> bbox-mark preset -> marked merge — the per-row
    // heavy op of a real 100 TB document corpus. Pure per-document map
    // work with no shuffle, so the ratio isolates task scheduling +
    // the partitioners themselves.
    val refData = "/root/reference/lib/sycamore/sycamore/tests/resources/data"
    if (!sections("ingest") || !wanted("doc_ingest")) ()
    else if (new java.io.File(s"$refData/pdfs").isDirectory) {
      import graft.docset.DocSet
      import graft.sources.DocRead
      def corpusK(n: Int): DocSet = {
        val base = DocRead.binary(spark, s"$refData/pdfs", "pdf").toDF
        val rep =
          if (n == 1) base
          else base.crossJoin(spark.range(n).select(col("id").as("_rep")))
            .withColumn("docId", concat(col("docId"), lit("#"), col("_rep")))
            .drop("_rep")
        // many-files layout, not the 10-input-splits accident of a tiny
        // corpus: at real scale the reader hands each executor thread a
        // stream of whole files
        DocSet.wrap(rep.repartition(32).as[graft.model.Document](DocSet.docEnc))
      }
      val ingest: DocSet => DataFrame = d => d
        .partitionAuto()
        .map(graft.operators.Marks.bboxPreset(512))
        .merge(new graft.operators.MarkedMerger())
        .toDF
      val iSmall = corpusK(1); val iBig = corpusK(k)
      // localCheckpoint would pin the binaries; corpus is 5 MB x K, reread
      // per run from page cache — measure() still warms + takes min-of-two
      val t1 = measure(d => ingest(iSmall), spark.emptyDataFrame)
      val tk = measure(d => ingest(iBig), spark.emptyDataFrame)
      println(f"[scale] doc_ingest       1x=${t1}%6.2fs  ${k}x=${tk}%7.2fs  ratio=${tk / t1}%5.1f")
    } else println("[scale] doc_ingest skipped: reference corpus not present")

    // WARC crawl ingest (r18 brief #6): K× synthesized WARC files — 100
    // HTML response records each, half the files gzipped — through
    // Warc.read -> partitionAuto. Per-BYTE cost family (record walk,
    // gunzip, HTTP split, HTML partition), zero shuffle; both corpora are
    // many-files (8 vs 8K) so the ratio isolates parse cost, not
    // parallelism granted only to the big side.
    if (sections("ingest") && wanted("warc_ingest")) {
      def record(id: String, body: String): Array[Byte] = {
        val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
          body).getBytes("UTF-8")
        (s"WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Target-URI: http://example.com/$id\r\n" +
          s"WARC-Record-ID: <urn:uuid:$id>\r\n" +
          s"Content-Length: ${http.length}\r\n\r\n").getBytes("UTF-8") ++
          http ++ "\r\n\r\n".getBytes("UTF-8")
      }
      def warcFile(seed: Int): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        (0 until 100).foreach { i =>
          val body = s"<html><head><title>Page $seed-$i</title></head><body>" +
            (0 until 12).map(p =>
              s"<p>paragraph $p of page $i in file $seed carrying enough " +
                s"narrative text to make the partitioner do real work</p>").mkString +
            "<ul>" + (0 until 5).map(li => s"<li>item $li</li>").mkString +
            "</ul></body></html>"
          bos.write(record(s"rec-$seed-$i", body))
        }
        bos.toByteArray
      }
      def gz(b: Array[Byte]): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(b); g.close(); bos.toByteArray
      }
      def corpus(files: Int): String = {
        val dir = java.nio.file.Files.createTempDirectory("warc_probe").toString
        (0 until files).foreach { i =>
          val raw = warcFile(i)
          if (i % 2 == 0)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(dir, f"crawl-$i%05d.warc"), raw)
          else
            java.nio.file.Files.write(
              java.nio.file.Paths.get(dir, f"crawl-$i%05d.warc.gz"), gz(raw))
        }
        dir
      }
      val base = 8
      val d1 = corpus(base); val dk = corpus(base * k)
      def ingest(p: String): DataFrame =
        graft.sources.Warc.read(spark, p).partitionAuto().toDF
      val t1 = measure(_ => ingest(d1), spark.emptyDataFrame)
      val tk = measure(_ => ingest(dk), spark.emptyDataFrame)
      println(f"[scale] warc_ingest      1x=${t1}%6.2fs  ${k}x=${tk}%7.2fs  ratio=${tk / t1}%5.1f")
    }

    // SQ8 ANN: encode + integer-dot top-k over replicated embeddings (ids
    // offset per replica; vectors perturbed by replica so codes differ)
    if (sections("ann") && wanted("sq8_topk")) {
      import graft.ann.Ann
      val emb1 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        .localCheckpoint()
      def embK(n: Int): DataFrame =
        if (n == 1) emb1
        else emb1.crossJoin(spark.range(n).select(col("id").as("_rep")))
          .select((col("vec_id") + col("_rep") * 1000000000L).as("vec_id"),
            transform(col("embedding"),
              x => x + col("_rep").cast("double") * lit(0.001)).as("embedding"))
          .localCheckpoint()
      val (mn, mx) = Ann.sq8Train(embK(1), "embedding")
      val q = emb1.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Double](0)
      val qc = Ann.sq8EncodeVec(q, mn, mx)
      val sq8: DataFrame => DataFrame = d =>
        Ann.sq8TopK(d.withColumn("codes", Ann.sq8Encode(col("embedding"), mn, mx)),
          "vec_id", "codes", qc, 10)
      val aSmall = embK(1); val aBig = embK(k)
      val t1 = measure(sq8, aSmall)
      val tk = measure(sq8, aBig)
      println(f"[scale] sq8_topk         1x=${t1}%6.2fs  ${k}x=${tk}%7.2fs  ratio=${tk / t1}%5.1f")
    }

    // semDedup under adversarial concentration (round 19): HALF the corpus
    // shares ONE centroid — the exact shape that made the uncapped
    // within-bucket quadratic a B² hot-key risk. With the oversize-bucket
    // cap the total candidate count is n·cap/2 BY CONSTRUCTION (n/cap
    // sub-buckets × cap²/2 pairs), so the probe must read at-or-below
    // linear; the uncapped path would grow quadratically in the hot bucket
    // (ratio ~K² on the hot half).
    if (sections("ann") && wanted("semdedup_hot")) {
      import graft.dedup.Dedup
      val dim = 16
      def hotVecs(n: Long): DataFrame =
        spark.range(n).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(dim - 1)), j =>
            when(j === when(col("id") % 2 === 0, lit(0))
              .otherwise(col("id") % 15 + 1).cast("int"), lit(1.0))
              .otherwise(lit(0.0))).as("embedding"))
          .localCheckpoint()
      val centroids = Array.tabulate(dim)(i =>
        Array.tabulate(dim)(j => if (i == j) 1.0 else 0.0))
      val f: DataFrame => DataFrame = d =>
        Dedup.semDedup(d, "vec_id", "embedding", centroids, 0.9, maxBucketSize = 256)
      val s = hotVecs(4000); val b = hotVecs(4000L * k)
      val t1 = measure(f, s)
      val tk = measure(f, b)
      println(f"[scale] semdedup_hot     1x=${t1}%6.2fs  ${k}x=${tk}%7.2fs  ratio=${tk / t1}%5.1f")
    }
    spark.stop()
  }
}
