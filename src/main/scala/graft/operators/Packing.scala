package graft.operators

import graft.Stored
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Distributed prefix-sum machinery and the two training-data operators
 * built on it:
 *
 *  - `packSequences`: GPT-style concat-and-chunk packing — documents are
 *    laid out in a deterministic total order, the token stream is cut into
 *    fixed context-length chunks, and each document learns which chunk(s)
 *    its tokens land in.
 *  - `rankBins`: exact quantile binning (curriculum buckets) — bin =
 *    floor(rank * nBins / N) over a deterministic total order.
 *
 * Both need a GLOBAL running total. A bare `Window.orderBy(...)` computes
 * it on ONE partition — the classic scale-killer. This is the textbook
 * two-phase prefix sum instead: range-partition by the order key, compute
 * per-partition partial aggregates, collect only the PER-PARTITION totals
 * (bounded by the partition count, a few KB at any corpus size), broadcast
 * the exclusive prefix offsets back, and finish with a partition-local
 * window. The corpus itself never funnels through one task.
 *
 * The staged (range-partitioned, pid-stamped) frame is stored ONCE
 * (`Stored.now`), and both the offsets job and the main job read the
 * SAME stored blocks. This is load-bearing, not a cache
 * optimization: RangePartitioner's bounds come from reservoir samples of
 * the child's row order, and when the input's lineage contains a shuffle,
 * row order differs between two executions — two separate plans could
 * assign DIFFERENT pids to boundary rows and the broadcast offsets would
 * silently misalign. The order key must be unique — pass the
 * doc id, or append one, as rankBins does.
 */
object Packing {

  /** Exclusive per-partition offsets of sum(weight) over the staged frame
    * (keyed by the stored frame's physical partition index). */
  private def prefixOffsets(staged: DataFrame): Map[Int, Long] = {
    val sums = staged.groupBy(spark_partition_id().as("_pid"))
      .agg(sum(col("_w")).as("_s"))
      .collect().collect { case r if !r.isNullAt(1) => r.getInt(0) -> r.getLong(1) }.toMap
    val ordered = sums.keys.toSeq.sorted
    ordered.zip(ordered.scanLeft(0L)((acc, p) => acc + sums(p)).dropRight(1)).toMap
  }

  /** Append an inclusive per-partition running total of long column `w`
    * (pre-seeded with the partition's exclusive global offset) as `out`.
    *
    * This is the zero-shuffle finish of the two-phase prefix sum (r20):
    * the staged checkpoint is ALREADY range-partitioned and sorted within
    * partitions, but that co-location is invisible to Catalyst (the
    * checkpoint scan is an ExistingRDD with unknown partitioning), so a
    * `Window.partitionBy(pid)` finish forced `EnsureRequirements` to
    * re-shuffle the FULL corpus by pid — a pure-waste exchange at any
    * scale, the dominant one at 100 TB. A per-partition imperative fold
    * (the charter's mapPartitions-as-last-resort case — no declarative
    * operator can express "trust my physical partitioning") reads each
    * checkpoint partition in its sorted order and accumulates in place:
    * zero exchanges, zero sorts, one pass.
    *
    * r21: the fold runs at the INTERNAL row level (toRdd in, unsafe
    * projection out, via InternalRowBridge). The previous `staged.rdd`
    * shape deserialized every row to external Row and paid the
    * CatalystTypeConverters re-conversion in createDataFrame — two
    * whole-corpus per-row conversion passes on the hot path of every
    * rank/packing operator (ADVICE r20). The pid alignment contract is
    * unchanged (toRdd IS the physical plan's RDD, the same partitions
    * `spark_partition_id()` reports — Round21Spec pins it directly). */
  private def withRunningTotal(staged: DataFrame, w: String, out: String,
                               offsets: Map[Int, Long]): DataFrame = {
    val wIdx = staged.schema.fieldIndex(w)
    appendLong(staged, out) { pid =>
      var cum = offsets.getOrElse(pid, 0L)
      r => { cum += r.getLong(wIdx); cum }
    }
  }

  /** Append the 0-based GLOBAL row rank (partition offset + position) as
    * `out` — the weight-1 running total without reading (or storing) a
    * weight column at all. */
  private def withPartitionRank(staged: DataFrame, out: String,
                                offsets: Map[Int, Long]): DataFrame =
    appendLong(staged, out) { pid =>
      var next = offsets.getOrElse(pid, 0L) - 1L
      _ => { next += 1L; next }
    }

  /** Zero-shuffle per-partition append of one computed long column:
    * internal rows in (reused buffers — the fold holds nothing across
    * rows), JoinedRow + UnsafeProjection out (the standard SparkPlan
    * output convention: consumers copy before buffering). */
  private def appendLong(staged: DataFrame, out: String)
                        (mk: Int => org.apache.spark.sql.catalyst.InternalRow => Long): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{JoinedRow, SpecificInternalRow, UnsafeProjection}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = staged.sparkSession
    val schema = StructType(staged.schema.fields :+ StructField(out, LongType, nullable = false))
    val rdd = org.apache.spark.sql.graft.InternalRowBridge.toInternalRdd(staged)
      .mapPartitionsWithIndex({ (pid, it) =>
        val f = mk(pid)
        val extra = new SpecificInternalRow(Seq(LongType))
        val joined = new JoinedRow
        val proj = UnsafeProjection.create(schema)
        it.map { r => extra.setLong(0, f(r))
          proj(joined(r, extra)): org.apache.spark.sql.catalyst.InternalRow }
      }, preservesPartitioning = true)
    org.apache.spark.sql.graft.InternalRowBridge.internalCreateDataFrame(spark, rdd, schema)
  }

  /**
   * Concat-and-chunk sequence packing: documents ordered by `order`
   * (deterministic total order — use the doc id), token counts from
   * `tokenCol`, context windows of `contextLen` tokens. Returns one row per
   * document: its token span [tok_start, tok_end) in the concatenated
   * stream, the first and last chunk it lands in, and its offset within the
   * first chunk. A document spanning a chunk boundary is split across
   * chunks — exactly what a pretraining loader does.
   *
   * The input is read once: the range partitioner's bound-sampling job
   * fills a stored copy of `df` (`Stored.once`), and the staging job reads
   * those rows instead of re-running the upstream plan. The input copy is
   * stored in a scope of its own, released as soon as the staged rows are
   * stored, so the step holds one stored copy of the corpus at the end,
   * not two.
   */
  def packSequences(df: DataFrame, order: String, tokenCol: Column,
                    contextLen: Int): DataFrame = {
    require(contextLen > 0, "contextLen must be positive")
    val parts = df.sparkSession.sparkContext.defaultParallelism
    // the scope drops the input copy as soon as staged holds every row
    val staged = Stored.scoped {
      Stored.now(Stored.once(df)
        .repartitionByRange(parts, col(order))
        .sortWithinPartitions(col(order))
        // null token count = empty doc (0 tokens), not a null-poisoned span
        .withColumn("_w", coalesce(tokenCol.cast("long"), lit(0L))))
    }
    // zero-shuffle finish: in-partition fold seeded by the broadcast
    // offsets (see withRunningTotal) — no pid re-shuffle, no window
    val out = withRunningTotal(staged, "_w", "_cum", prefixOffsets(staged))
      .withColumn("tok_start", col("_cum") - col("_w"))
      .withColumn("tok_end", col("_cum"))
      .withColumn("chunk_start", floor(col("tok_start") / contextLen).cast("long"))
      // empty docs occupy no chunk: end chunk = chunk of last token
      .withColumn("chunk_end",
        when(col("_w") > 0, floor((col("tok_end") - 1) / contextLen).cast("long"))
          .otherwise(col("chunk_start")))
      .withColumn("chunk_offset", pmod(col("tok_start"), lit(contextLen.toLong)))
      .drop("_w", "_cum")
    out
  }

  /**
   * Exact quantile bins over a deterministic total order: bin =
   * floor(rank0 * nBins / N), rank0 = 0-based global rank by (`order`
   * columns, ties impossible when the last order column is unique). The
   * curriculum-binning op: bin 0 = lowest `order`, bin nBins-1 = highest.
   */
  def rankBins(df: DataFrame, order: Seq[Column], unique: String,
               nBins: Int, binCol: String = "bin"): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    val (ranked, n) = rankedStage(df, order, unique)
    // integer DIV, not floor(/): Spark / on longs is DOUBLE division, and
    // past 2^53 rows rank*nBins loses low bits — a boundary rank could land
    // in the wrong bin. Both operands are non-negative, so DIV == floor.
    ranked
      .withColumn(binCol, expr(s"_rank0 * ${nBins}L DIV ${n}L"))
      .drop("_rank0")
  }

  /** Global 0-based row rank over the deterministic total order
    * (`order` ++ unique id), via the same two-phase prefix sum — the
    * building block rankBins bins and Fusion.rrf inverts. */
  def globalRank(df: DataFrame, order: Seq[Column], unique: String,
                 rankCol: String = "rank0"): DataFrame = {
    val (ranked, _) = rankedStage(df, order, unique)
    ranked.withColumnRenamed("_rank0", rankCol)
  }

  /** globalRank plus the total row count — rankedStage already collected
    * per-partition counts, so callers that need n (quantile bounds, sample
    * sizing) get it for free instead of re-counting with another job. */
  def globalRankCounted(df: DataFrame, order: Seq[Column], unique: String,
                        rankCol: String = "rank0"): (DataFrame, Long) = {
    val (ranked, n) = rankedStage(df, order, unique)
    (ranked.withColumnRenamed("_rank0", rankCol), n)
  }

  /** Pid-stamped staged frame with the exact global 0-based rank attached,
    * plus the total row count (from the already-collected per-partition
    * counts — no extra job). */
  /**
   * Truncation-free sequence packing — the complement of [[packSequences]]:
   * concat-and-chunk SPLITS documents at context boundaries; this assigns
   * every document WHOLE to a bin of capacity `contextLen`, the
   * "packing without cross-contamination" formulation (Krell et al. 2022,
   * arXiv:2107.02027, shortest-pack-first histogram packing; Ding et al.
   * 2024 measure the downstream win of fewer truncations). Returns one row
   * per document: (`unique`, tokens, bin) with bin a 0-based id such that
   * each bin's token total is <= contextLen.
   *
   * 100 TB shape — the histogram is the trick: token lengths are clamped
   * to [1, contextLen], so the length histogram has at most `contextLen`
   * rows (STRATUM-SIZED, census class: one map-side-combined aggregate +
   * one bounded collect). The best-fit greedy runs on the DRIVER over the
   * histogram only — groups of identical bins are processed in bulk, so
   * driver work is O(classes x bin-groups), independent of corpus size —
   * and emits a RUN TABLE: (class, rank range, first bin, docs per bin).
   * Each doc then finds its bin with pure rank arithmetic — a global rank
   * via the two-phase prefix sum (never a partition-less window), minus
   * the driver-known class offset, joined to the broadcast run table. The
   * assignment is a pure function of the token-length multiset and the
   * per-class `unique` order: partitioning-invariant by construction
   * (PackBestFitSpec pins this plus the capacity law).
   *
   * Equivalent to per-doc best-fit ("place in the fullest bin that still
   * fits, opening a new bin when none does") processed in descending
   * length: filling one group of identical bins in bulk IS repeated
   * best-fit, because after a placement the chosen bin's residual shrinks
   * and remains the best fit until it no longer admits the class.
   */
  def packBestFit(df: DataFrame, tokenCol: Column, unique: String,
                  contextLen: Int): DataFrame = {
    require(contextLen > 0, "contextLen must be positive")
    val c = contextLen.toLong
    val dfw = df.select(col(unique),
      least(greatest(coalesce(tokenCol.cast("long"), lit(1L)), lit(1L)), lit(c)).as("tokens"))
    // histogram: at most contextLen rows to the driver
    val hist = dfw.groupBy(col("tokens")).agg(count(lit(1)).as("_n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (hist.isEmpty) return dfw.withColumn("bin", lit(0L)).limit(0)

    // ---- driver greedy over the histogram (bulk best-fit)
    final case class Grp(var residual: Long, var binStart: Long, var count: Long)
    final case class Run(cls: Long, cumStart: Long, cumEnd: Long,
                         binStart: Long, perBin: Long)
    val groups = scala.collection.mutable.ArrayBuffer.empty[Grp]
    val runs = scala.collection.mutable.ArrayBuffer.empty[Run]
    var nextBin = 0L
    var guard = 0
    for (cls <- hist.keys.toSeq.sorted(Ordering[Long].reverse)) {
      var n = hist(cls)
      var cum = 0L
      while (n > 0) {
        guard += 1
        require(guard < (1 << 24),
          "packBestFit: pathological histogram (driver greedy exceeded its " +
            "iteration budget) — this bounds driver work, not correctness")
        // best fit: smallest residual that still admits the class;
        // ties broken by lowest bin id for determinism
        val fit = groups.filter(_.residual >= cls)
        if (fit.nonEmpty) {
          val g = fit.minBy(g => (g.residual, g.binStart))
          val k = g.residual / cls // docs per bin in this group, >= 1
          val fullBins = math.min(g.count, n / k)
          if (fullBins > 0) {
            runs += Run(cls, cum, cum + fullBins * k, g.binStart, k)
            groups += Grp(g.residual - k * cls, g.binStart, fullBins)
            cum += fullBins * k; n -= fullBins * k
            g.binStart += fullBins; g.count -= fullBins
          } else { // n < k: one partial bin absorbs the class remainder
            runs += Run(cls, cum, cum + n, g.binStart, n)
            groups += Grp(g.residual - n * cls, g.binStart, 1L)
            g.binStart += 1; g.count -= 1
            cum += n; n = 0
          }
          if (g.count == 0) { groups -= g; () }
        } else { // no bin admits the class: open new bins
          val k = c / cls
          val fullBins = n / k
          if (fullBins > 0) {
            runs += Run(cls, cum, cum + fullBins * k, nextBin, k)
            groups += Grp(c - k * cls, nextBin, fullBins)
            cum += fullBins * k; nextBin += fullBins; n -= fullBins * k
          }
          if (n > 0) {
            runs += Run(cls, cum, cum + n, nextBin, n)
            groups += Grp(c - n * cls, nextBin, 1L)
            cum += n; nextBin += 1; n = 0
          }
        }
      }
    }

    // ---- distributed assignment: rank within class -> run -> bin
    // class offsets under the (tokens DESC, unique ASC) total order
    val descCls = hist.keys.toSeq.sorted(Ordering[Long].reverse)
    val offsets = descCls.zip(
      descCls.scanLeft(0L)((acc, l) => acc + hist(l)).dropRight(1)).toMap
    // ONE map literal, not a chained when(): up to contextLen classes
    // nested 512 deep is exactly the janino-refusal shape the codegen
    // invariant exists to prevent (the epochMixture pattern)
    val offExpr = element_at(
      map(offsets.toSeq.sortBy(_._1)
        .flatMap { case (l, o) => Seq(lit(l), lit(o)) }: _*),
      col("tokens"))
    val spark = df.sparkSession
    import spark.implicits._
    val runsDf = runs.toSeq
      .map(r => (r.cls, r.cumStart, r.cumEnd, r.binStart, r.perBin))
      .toDF("_cls", "_cs", "_ce", "_bs", "_pb")
    globalRank(dfw, Seq(col("tokens").desc), unique, "_gr")
      .withColumn("_rc", col("_gr") - offExpr)
      .join(broadcast(runsDf),
        col("tokens") === col("_cls") && col("_rc") >= col("_cs") && col("_rc") < col("_ce"))
      .select(col(unique), col("tokens"),
        (col("_bs") + expr("(_rc - _cs) DIV _pb")).as("bin"))
  }

  private def rankedStage(df: DataFrame, order: Seq[Column],
                          unique: String): (DataFrame, Long) = {
    val parts = df.sparkSession.sparkContext.defaultParallelism
    val ord = order :+ col(unique)
    val staged = Stored.now(df
      .repartitionByRange(parts, ord: _*)
      .sortWithinPartitions(ord: _*))
    val counts = staged.groupBy(spark_partition_id().as("_pid"))
      .agg(count(lit(1)).as("_c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val orderedP = counts.keys.toSeq.sorted
    val excl = orderedP.zip(orderedP.scanLeft(0L)((acc, p) => acc + counts(p)).dropRight(1)).toMap
    val n = math.max(1L, counts.values.sum)
    // zero-shuffle finish (see withRunningTotal): partition offset plus
    // in-partition position IS the 0-based global rank — no pid re-shuffle,
    // no window, and (r21) no materialized weight-1 column in the
    // stored frame (8 bytes/row fewer stored and folded)
    (withPartitionRank(staged, "_rank0", excl), n)
  }
}
