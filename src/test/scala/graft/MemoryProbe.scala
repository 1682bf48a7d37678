package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Memory-pressure probe (round 20, SURVEY §6): the 128 GiB sandbox never
  * exercises spill — a 100 TB cluster will, constantly. This runs the
  * heavy-tail operators at K=25 replication of the sf0.1 corpora under a
  * deliberately small JVM heap and prints, per op: row count, an
  * order-insensitive result checksum, wall time, and the spill counters
  * accumulated from task metrics. The pin (recorded in SURVEY §6):
  *
  *   1. completes without OOM under the cap,
  *   2. spills CLEANLY (disk/memory spill > 0 under the cap is the
  *      point — it proves the operators degrade to disk instead of dying),
  *   3. (count, checksum) is IDENTICAL to an uncapped run — spill paths
  *      must not change answers.
  *
  * The checksum is computed IN SPARK (count + sum of xxhash64 over the
  * name-sorted stringified row) — collecting a K=25 result to a 2 GiB
  * driver to hash it would itself be the anti-pattern this probe polices.
  *
  *   SPARK_DRIVER_MEM=2g sbt "Test/runMain graft.MemoryProbe"   # capped
  *   sbt "Test/runMain graft.MemoryProbe"                       # reference
  *   MEM_K=25 MEM_OPS=pagerank_5r,triangles ...                 # filters
  */
object MemoryProbe {
  def main(args: Array[String]): Unit = {
    val k = sys.env.getOrElse("MEM_K", "25").toInt
    // MEM_THREADS controls HEAP-PER-SLOT, the quantity that actually
    // transfers to a cluster (an executor's usable memory divides by its
    // task slots): 2g/32 slots = 64 MB/slot is below Spark's own internal
    // floor (concurrent spill-reader read-ahead buffers alone OOM it);
    // 2g/8 slots = 256 MB/slot is the realistic worst case to pin.
    val threads = sys.env.getOrElse("MEM_THREADS", "32").toInt
    val spark = GateHarness.session(cpus = threads)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    // bisection knob: AQE's SMJ→shuffled-hash-join conversion builds
    // per-partition hash maps whose build side cannot spill — the one
    // join strategy that trades the sort's disk path for heap
    sys.env.get("MEM_AQE").foreach(v => spark.conf.set("spark.sql.adaptive.enabled", v))

    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
          ()
        }
      }
    })

    val heap = Runtime.getRuntime.maxMemory() / (1 << 20)
    println(s"[mem] K=$k heapMB=$heap")

    // ---- corpora: same replication shapes as ScaleProbe (disjoint
    // id-offset copies; text salted per replica where an op would
    // otherwise see cross-replica duplicates and grow output K^2-fold)
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    def docsK(n: Int): DataFrame =
      (if (n == 1) base
       else base.crossJoin(spark.range(n).select(col("id").as("_rep")))
         .select((col("doc_id") + col("_rep") * 1000000000L).as("doc_id"),
           concat(col("text"), lit(" rep"), col("_rep")).as("text"),
           col("lang"), col("source"), col("n_chars"))).localCheckpoint()
    // docs is held through a releasable slot: the graph ops never touch
    // it, and under a 2 GiB cap its checkpoint blocks must be GC-droppable
    // (not pinned by a closure reference) before the triangle enumeration
    var docsRef: DataFrame = null
    def docs: DataFrame = {
      if (docsRef == null) docsRef = docsK(k)
      docsRef
    }

    lazy val edges = {
      val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      val o = spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
      val e1 = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("l_suppkey").as("s"), col("o_custkey").as("d")).distinct()
      e1.crossJoin(spark.range(k).select(col("id").as("_rep")))
        .select((col("s") + col("_rep") * 1000000000L).as("s"),
          (col("d") + col("_rep") * 1000000000L).as("d"))
        .localCheckpoint()
    }

    // ---- the heavy tail (the 5 most expensive operator families by the
    // per-round plan audit, plus the giant-group selection shape)
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "robust_outliers" -> (() => graft.operators.Stats.robustOutliers(
        docs, when(col("doc_id") % 2 === 0, lit("big"))
          .otherwise(concat(lit("s"), col("doc_id") % 97)),
        col("n_chars") * 1000 + col("doc_id") % 1000, col("doc_id"))),
      "fuzzy_join" -> { () =>
        val rep = (col("doc_id") / 1000000000L).cast("long").cast("string")
        val sh = transform(
          gf.wordShingles(array_join(slice(split(trim(lower(col("text"))), "\\s+"), 1, 12), " "), 2),
          s => concat(rep, lit(":"), s))
        val t = docs.select(col("doc_id"), sh.as("ts"))
        graft.operators.FuzzyJoin.jaccardJoin(
          t.where(col("doc_id") % 2 === 0), t.where(col("doc_id") % 2 === 1),
          "doc_id", "ts", 1, 2)
      },
      "dup_spans" -> (() => graft.dedup.Dedup.dupSpans(docs, "doc_id", "text", 10)),
      // r20 breadth: the LSH band-bucket join and the PassJoin segment
      // machinery — the two other candidate-generation shapes whose
      // intermediates dwarf their outputs (docs-backed, so they run before
      // the graph ops release the docs checkpoint)
      "minhash_lsh" -> (() =>
        graft.dedup.Dedup.minhashLsh(docs, "doc_id", "text")),
      "edit_join" -> { () =>
        val rep = (col("doc_id") / 1000000000L).cast("long").cast("string")
        val t = docs.select(col("doc_id"),
          concat(rep, lit(":"), substring(lower(col("text")), 1, 24)).as("p"))
        graft.operators.EditJoin.join(
          t.where(col("doc_id") % 2 === 0), t.where(col("doc_id") % 2 === 1),
          "doc_id", "p", k = 2)
      },
      // quadratic-within-bucket pairs over fat (vector) rows — the same
      // slim-input/explosive-output stats profile as the triangle joins;
      // per-replica buckets keep the OUTPUT linear in K so the probe
      // measures the join machinery, not a K^2 answer
      "cosine_pairs" -> { () =>
        val e1 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        val eK = e1.crossJoin(spark.range(k).select(col("id").as("_rep")))
          .select((col("vec_id") + col("_rep") * 1000000000L).as("vec_id"),
            col("embedding"),
            concat(col("label"), lit(":"), col("_rep")).as("label"))
          .localCheckpoint()
        graft.dedup.Dedup.embeddingCosinePairs(eK, "vec_id", "embedding",
          col("label"), threshold = 0.4)
      },
      "pagerank_5r" -> (() =>
        graft.operators.PageRank.pageRank(edges, "s", "d", iterations = 5)),
      "triangles" -> (() =>
        graft.operators.Triangles.enumerate(edges, "s", "d")))

    // order-insensitive, partition-independent: count + SUM of the 64-bit
    // hash of each name-sorted stringified row (sum is commutative; the
    // null sentinel keeps absent != empty)
    def checksum(df: DataFrame): (Long, String) = {
      val cols = df.columns.sorted.toSeq
      val row = concat_ws("",
        cols.map(c => coalesce(col(c).cast("string"), lit("␀"))): _*)
      val r = df.select(
        count(lit(1)).as("n"),
        // widen to DECIMAL(38): a long sum of full-range 64-bit hashes
        // overflows within rows and ANSI mode (Spark 4 default) turns that
        // into a task failure
        coalesce(sum(xxhash64(row).cast("decimal(38,0)")), lit(0))
          .cast("string").as("h")).head()
      (r.getLong(0), r.getString(1))
    }

    val filter = sys.env.get("MEM_OPS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val usesDocs = Set("robust_outliers", "fuzzy_join", "dup_spans",
      "minhash_lsh", "edit_join")
    for ((name, f) <- ops if filter.forall(_(name))) {
      // per-op isolation: localCheckpoint blocks of frames the PREVIOUS op
      // no longer references are reclaimed by the ContextCleaner only
      // after a driver GC — without this, a 2 GiB run measures op N
      // against op N-1's dead blocks still pinning the protected half of
      // storage memory, not against its own footprint
      if (!usesDocs(name)) docsRef = null
      System.gc()
      Thread.sleep(1500)
      spillMem.set(0L); spillDisk.set(0L)
      val t0 = System.nanoTime()
      val (n, h) = checksum(f())
      val secs = (System.nanoTime() - t0) / 1e9
      // listener events are posted async; give the bus a beat to drain
      // (the counters are diagnostics — the pinned values are rows+checksum)
      Thread.sleep(300)
      println(f"[mem] $name%-16s rows=$n%9d checksum=$h%24s time=$secs%7.2fs " +
        f"spillMemMB=${spillMem.get / (1 << 20)}%6d spillDiskMB=${spillDisk.get / (1 << 20)}%6d")
    }
    spark.stop()
  }

  private val gf = graft.functions.gf
}
