package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One closed-loop operation: a batch, a curation pass, a question or an append. */
final case class Op(kind: String, ms: Double, docs: Long, var ok: Boolean)

/** A benchmark workload. Inputs come only from the seed. */
trait Workload {
  /** Generate the inputs once per (workload, seed, size); later runs reuse them. */
  def prepare(spark: SparkSession): Unit
  /** Per-session set-up a user pays before the first op (indexes); counted in setup_s. */
  def setUp(spark: SparkSession): Unit = ()
  /** Untimed warm-up on the measured session: JIT and codegen, not counted anywhere. */
  def warmUp(spark: SparkSession): Unit
  /** The loop runs for the requested seconds and at least this many ops, so
    * the median sits at the same place in every run. */
  def minOps: Int = 1
  def op(spark: SparkSession, i: Int, tr: Tracer): Op
  /** Check outputs written during the loop; may mark ops failed. */
  def finish(spark: SparkSession, ops: Seq[Op]): Unit
  /** Workload-specific per-layer metrics of a traced run. */
  def extras(tr: Tracer): Seq[(String, Double, String)]
  /** Measured input shares and output digest, printed beside the metrics. */
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
}

/**
 * Runs one workload: three set-ups on fresh sessions, an untimed warm-up,
 * the closed loop for the requested seconds, then the known-answer checks. Writes the
 * result JSON to `--out`.
 */
object Main {
  val Spans = Seq(
    "sources.read_binary", "operators.partition", "operators.chunk", "docset.explode",
    "dedup.sketch_dedup", "embed.embed", "sources.write",
    "sources.read_parquet", "functions.quality_filter", "dedup.minhash_lsh",
    "dedup.decontaminate", "operators.mixture", "operators.pack",
    "plan.plan", "plan.build", "plan.run", "ann.search", "dedup.increment", "sources.append")

  /** Named per-layer metrics beyond the span counters; a workload that does
    * not run a layer reports zero for it. */
  val Extras: Seq[(String, String)] = Seq(
    "dedup.sketch_dedup.jobs" -> "count", "dedup.sketch_dedup.join_rows" -> "rows",
    "dedup.sketch_dedup.parents_kept" -> "count", "functions.quality_filter.keep_ratio" -> "ratio",
    "dedup.minhash_lsh.jobs" -> "count", "dedup.minhash_lsh.join_rows" -> "rows",
    "dedup.decontaminate.jobs" -> "count", "dedup.decontaminate.join_rows" -> "rows",
    "operators.pack.jobs" -> "count", "operators.pack.fill_ratio" -> "ratio",
    "plan.plan.llm_calls_per_plan" -> "calls", "plan.build.jobs" -> "count",
    "plan.run.jobs" -> "count", "dedup.increment.join_rows" -> "rows",
    "plan.cache_hit_ratio" -> "ratio") ++
    QueryMix.Types.map(t => s"plan.run.p50_ms.$t" -> "ms")

  private val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val bootS = (System.currentTimeMillis - jvmStart) / 1000.0
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath.toString
    val size = args.getOrElse("size", "full")
    val corrupt = args.getOrElse("corrupt", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val wl: Workload = args("workload") match {
      case "ingest_etl" => new IngestEtl(work, seed, size, corrupt)
      case "curation"   => new Curation(work, seed, size, corrupt)
      case "query_mix"  => new QueryMix(work, seed, size, corrupt)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up on fresh sessions: the first includes JVM start, input
    // generation is excluded; the reported figure is the median
    val setups = mutable.ArrayBuffer[Double]()
    var t = System.nanoTime
    var spark = session(cores, work)
    val sessionS = secs(t)
    t = System.nanoTime
    wl.prepare(spark)
    wl.info("generate_s") = secs(t)
    t = System.nanoTime
    wl.setUp(spark)
    setups += bootS + sessionS + secs(t)
    for (_ <- 1 until SetupReps) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      t = System.nanoTime
      spark = session(cores, work)
      wl.setUp(spark)
      setups += secs(t)
    }
    // a warm-up that throws is a failed op too
    val ops = mutable.ArrayBuffer[Op]()
    t = System.nanoTime
    try wl.warmUp(spark) catch {
      case NonFatal(e) =>
        e.printStackTrace()
        ops += Op("warmup_error", 0, 0, ok = false)
    }
    wl.info("warmup_s") = secs(t)
    t = System.nanoTime
    awaitJitQuiet()
    wl.info("jit_wait_s") = secs(t)

    val gc0 = gcSeconds
    val llm0 = BenchLlm.calls.get
    def loop(tr: Tracer, until: (Int, Double) => Boolean): Double = {
      val t0 = System.nanoTime
      var n = 0
      while (!until(n, secs(t0))) {
        val t = System.nanoTime
        ops += (try wl.op(spark, ops.size, tr) catch {
          case NonFatal(e) =>
            e.printStackTrace()
            Op("error", secs(t) * 1000, 0, ok = false)
        })
        tr.release()
        n += 1
      }
      secs(t0)
    }
    val tracer = new Tracer(spark, on = trace)
    val metrics = mutable.ArrayBuffer[(String, Double, String)]()
    if (!trace) {
      loop(tracer, (k, s) => s >= seconds && k >= wl.minOps)
    } else {
      // traced for the full time, so the spans see the same ops an
      // untraced run would; then the same op count untraced: the wall
      // difference is the cost of tracing
      val tracedWall = loop(tracer, (k, s) => s >= seconds && k >= wl.minOps)
      val n = ops.size
      val untracedWall = loop(new Tracer(spark, on = false), (k, _) => k >= n)
      metrics += (("trace_overhead_s", tracedWall - untracedWall, "s"))
    }
    val gcS = gcSeconds - gc0
    val llmCalls = BenchLlm.calls.get - llm0
    t = System.nanoTime
    wl.finish(spark, ops.toSeq)
    wl.info("finish_s") = secs(t)

    val failed = ops.count(!_.ok)
    if (!trace) {
      val reads = ops.filterNot(o => o.kind.startsWith("append") || o.kind == "warmup_error").map(_.ms).toSeq
      val fed = ops.filter(_.docs > 0)
      metrics += (("setup_s", median(setups.toSeq), "s"))
      metrics += (("docs_per_s", fed.map(_.docs).sum * 1000.0 / fed.map(_.ms).sum, "docs/s"))
      metrics += (("op_geomean_ms", geomean(reads), "ms"))
    } else {
      metrics ++= tracer.spanMetrics(Spans, cores)
      val extras = wl.extras(tracer).map(m => m._1 -> m).toMap
      metrics ++= Extras.map { case (k, u) => extras.getOrElse(k, (k, 0.0, u)) }
      val storage = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      metrics += (("llm.calls", llmCalls.toDouble, "calls"))
      metrics += (("jvm.gc_s", gcS, "s"))
      metrics += (("spark.spill_mb", tracer.spillMb, "MB"))
      metrics += (("session.storage_left_mb", storage / 1048576.0, "MB"))
      metrics += (("failed_ops_ratio", failed.toDouble / ops.size, "ratio"))
      metrics += (("jvm.peak_rss_mb", peakRssMb, "MB"))
    }
    wl.info("ops") = ops.size
    wl.info("failed_ops") = ops.filter(!_.ok).map(_.kind).mkString(",")
    wl.info("op_ms") = ops.map(o => s"${o.kind}:${o.ms.round}").mkString(",")
    wl.info("setup_reps_s") = setups.map(round4).mkString(",")
    spark.stop()
    wl.info("jvm_s") = (System.currentTimeMillis - jvmStart) / 1000.0

    val result = Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> ops.size,
      "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.toSeq.map { case (k, v, u) =>
        k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) }: _*),
      "info" -> wl.info)
    Files.write(Paths.get(args("out")), Json.render(result).getBytes(StandardCharsets.UTF_8))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }

  def secs(t0: Long): Double = (System.nanoTime - t0) / 1e9
  def round4(x: Double): Double = math.round(x * 1e4) / 1e4

  /** Geometric mean: every op counts, each op type by its share. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-3))).sum / xs.size)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** Let the compilations the warm-up queued finish before timing: wait
    * until the JIT has compiled nothing for half a second, at most 5 s. */
  private def awaitJitQuiet(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime + 5000000000L
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 5 && System.nanoTime < deadline) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      quiet = if (now == last) quiet + 1 else 0
      last = now
    }
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Minimal JSON rendering for the result file. */
object Json {
  def obj(kv: (String, Any)*): mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap(kv: _*)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case other => render(other.toString)
  }
}
