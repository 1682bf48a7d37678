package graft

import scala.util.control.NonFatal

/** Gate benchmark: times every gate, or the gates named in the optional
  * comma-separated first argument, and prints two JSON lines (see below).
  *
  * usage: runMain graft.Bench [q_a,q_b]
  * env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_RUNS (timed passes, default 3)
  *
  * Each query is forced to FULL evaluation via `queryExecution.toRdd.count()`:
  * executing the query's own physical plan materializes every output column.
  * A plain `df.count()` would wrap the plan in Aggregate(count(1)) and let
  * Catalyst prune all projections — map-only queries would then measure the
  * parquet scan, not the operator.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = GateHarness.select(args.headOption)
    val spark = GateHarness.session()
    val failures = scala.collection.mutable.ListBuffer[String]()
    // median of BENCH_RUNS full passes (default 3): single-shot numbers
    // carried ±25% run-to-run variance between recorded artifacts (round-5
    // history quotes 58.3/62.6/71.9/90.0s for the same code), which made
    // cross-round comparisons read as real changes. The reported value is
    // the sum of per-query MEDIANS; per-run totals ride along so the
    // artifact itself shows the spread.
    val runs = math.max(1, GateHarness.envInt("BENCH_RUNS", 3))
    // one FULL untimed warmup pass (r9): JVM, codegen and parquet-footer
    // start-up would otherwise land on whichever query runs first, and each
    // query's own generated classes compile on first execution. With the
    // codegen cache sized to hold a whole pass, a single untimed sweep makes
    // every timed run hit warm classes — the r8 artifact showed the ramp
    // persisting into run 2 (medians of 3 then charge half the ramp to the
    // recorded number).
    val warmupPasses = 1
    names.foreach { name =>
      GateHarness.runGate(spark, sfDir, name)(_.queryExecution.toRdd.count())._1.failed
        .foreach(e => System.err.println(s"[bench] warmup $name: ${e.getMessage}"))
    }
    // HEAVY-TAIL VARIANCE DIAGNOSIS (round 7): localCheckpoint blocks from
    // one query (dedup CC, pagerank, rrf, tfidf, packing, triangles all
    // checkpoint) were released only when the JVM's GC collected the RDD
    // handle and ContextCleaner fired — nondeterministic timing, so in the
    // unified memory manager later queries saw anywhere from zero to
    // gigabytes of lingering storage competing with their shuffle memory.
    // That matched the observed signature exactly: the swinging queries
    // (q_dup_spans, q_pack_sequences, q_ngram_jaccard) sit alphabetically
    // AFTER the checkpoint-heavy dedup family, while light queries held
    // steady. Mitigation: each gate runs in its own `Stored` scope
    // (GateHarness.runGate), which releases every frame the gate stored —
    // checkpoints and cache entries alike — when the gate's run ends, so
    // each run plans and times the same query. Evidence rides in the
    // artifact: per-run peak storage bytes, read before the release, and
    // the count of frames the scopes released ("rdds_evicted").
    val storagePeaks = scala.collection.mutable.ArrayBuffer[Long]()
    val evictions = scala.collection.mutable.ArrayBuffer[Int]()
    val samples: Seq[Seq[(String, Double)]] = (1 to runs).map { _ =>
      var peak = 0L
      var evicted = 0
      val run = names.map { name =>
        val t0 = System.nanoTime()
        // runGate catches NonFatal only: an OOM or VM error must end the
        // run, since a degraded JVM would skew every later timing (ADVICE r9)
        val (done, released) = GateHarness.runGate(spark, sfDir, name) { df =>
          df.queryExecution.toRdd.count()
          val dt = (System.nanoTime() - t0) / 1e9
          peak = math.max(peak, spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum)
          dt
        }
        evicted += released
        val dt = done.fold({ e =>
          // failed queries are recorded in the JSON line too — a fast
          // failure must not be mistaken for a fast success
          if (!failures.contains(name)) failures += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          (System.nanoTime() - t0) / 1e9
        }, identity)
        name -> dt
      }
      storagePeaks += peak
      evictions += evicted
      run
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val byName = samples.flatten.groupBy(_._1).view.mapValues(v => median(v.map(_._2)))
    val results = names.map(n => n -> byName(n))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val runTotals = samples.map(_.map(_._2).sum)
      .map(t => f"$t%.1f").mkString("[", ",", "]")
    val fails = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    val storageMb = storagePeaks.map(b => f"${b / 1048576.0}%.0f").mkString("[", ",", "]")
    val evictedJson = evictions.mkString("[", ",", "]")
    // Two lines, because a reader that keeps only a ~2000-char stdout tail
    // clips the full line (~16 KB): the full line ends with the per-query
    // "queries" map, and the compact line (<1500 chars, no per-query map)
    // comes LAST, so such a tail always holds one complete JSON object. The
    // full line is also written to bench_out.json.
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","failures":$fails,"runs":$runs,"aggregate":"median","warmup_passes":$warmupPasses,"run_totals":$runTotals,"storage_peak_mb":$storageMb,"rdds_evicted":$evictedJson,"variance_note":"r9: codegen cache sized to hold a full pass + one full untimed warmup pass; r7 heavy-tail unpersist retained; run 1 can still ride residual C2-JIT/page-cache ramp (r15 saw 1.6x) - the median of 3 absorbs it by construction","sf":"$sfDir","queries":$qs}"""
    println(line)
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","failures":$fails,"runs":$runs,"aggregate":"median","warmup_passes":$warmupPasses,"run_totals":$runTotals,"cpus":"${GateHarness.envCpus}","n_queries":${results.size},"queries_full":"bench_out.json","sf":"$sfDir"}"""
    println(compact)
    try {
      val w = new java.io.PrintWriter("bench_out.json", "UTF-8")
      try w.println(line) finally w.close()
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] bench_out.json write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
