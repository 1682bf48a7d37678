package graft.operators

import graft.Stored
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Rank-based score calibration across heterogeneous corpus strata.
 *
 * Quality scores are not comparable across sources (web text scores
 * systematically lower than books on length/punctuation heuristics), so a
 * single global threshold over- or under-filters per source. The standard
 * fix is quantile calibration: replace the raw score with its percentile
 * WITHIN the source, then curate with one percentile threshold everywhere.
 *
 * `percentileBy` computes pct = rank0 / (n_group - 1) (the row_number form
 * of percent_rank — ties broken by the unique id, so the output is
 * deterministic and cross-engine replayable; 0.0 for singleton groups).
 *
 * Scale shape: a `Window.partitionBy(group)` would sort EACH GROUP in one
 * task — a single web-crawl source at 100 TB is one straggler partition.
 * This is instead the stratified two-phase prefix rank (Packing's pattern,
 * generalized to grouped keys): range-partition on (group, order, id) —
 * big groups SPLIT across partitions — aggregate per-(partition, group)
 * counts (a frame bounded by #partitions x #groups, NOT corpus size),
 * derive each group's exclusive prefix offsets and total with windows over
 * that tiny frame, broadcast it back, and finish with a partition-local
 * window. No group ever funnels through one task. The group join uses
 * null-safe equality, so NULL-group rows calibrate as their own stratum
 * instead of silently dropping.
 */
object Calibration {

  def percentileBy(df: DataFrame, group: String, order: Column, unique: String,
                   outCol: String = "pctl"): DataFrame = {
    val parts = df.sparkSession.sparkContext.defaultParallelism
    val ord = Seq(col(group), order, col(unique))
    val staged = Stored.now(df
      .repartitionByRange(parts, ord: _*)
      .sortWithinPartitions(ord: _*)
      .withColumn("_pid", spark_partition_id()))
    // per-(partition, group) counts: tiny, so windows over it are safe
    val cnt = staged.groupBy(col("_pid").as("_opid"), col(group).as("_grp"))
      .agg(count(lit(1)).as("_c"))
    val wOff = Window.partitionBy(col("_grp")).orderBy(col("_opid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(col("_grp"))
    val offDf = cnt
      .withColumn("_off", coalesce(sum(col("_c")).over(wOff), lit(0L)))
      .withColumn("_n", sum(col("_c")).over(wTot))
      .drop("_c")
    val w = Window.partitionBy(col("_pid"), col(group)).orderBy(ord: _*)
    staged
      .join(broadcast(offDf),
        staged("_pid") === offDf("_opid") && staged(group) <=> offDf("_grp"))
      .withColumn("_rank0", row_number().over(w).cast("long") - 1 + col("_off"))
      .withColumn(outCol,
        when(col("_n") > 1, graft.functions.gf.roundHalfUp(col("_rank0").cast("double") / (col("_n") - 1), 6))
          .otherwise(lit(0.0)))
      .drop("_pid", "_opid", "_grp", "_off", "_n", "_rank0")
  }

  /**
   * Winsorization at EXACT permille bounds — the outlier-clipping step
   * of feature/score preparation (a handful of absurd values otherwise
   * own every mean and minmax-normalization). The bounds are the values
   * at 0-based ranks `floor(loPermille·(n−1)/1000)` and
   * `floor(hiPermille·(n−1)/1000)` of the EXACT sorted order — selected
   * with Packing.globalRank (two-phase prefix sum, never a
   * single-partition sort) and two rank-equality lookups; approximate
   * percentiles (t-digest et al.) could not cross-engine match. The
   * clip itself is a pure per-row codegen map against the two
   * broadcast bounds.
   *
   * Returns (df + clipCol + clipped flag). `value` must be integer-typed
   * (the cents convention — float quantiles don't replay).
   */
  def winsorize(df: DataFrame, value: Column, unique: String,
                loPermille: Int, hiPermille: Int,
                clipCol: String = "clipped_value"): DataFrame = {
    require(0 <= loPermille && loPermille <= hiPermille && hiPermille <= 1000,
      s"need 0 <= lo <= hi <= 1000, got $loPermille/$hiPermille")
    val keyed = df.withColumn("_wv", value.cast("long"))
    // r21: the two bounds are ORDER STATISTICS of the value multiset — the
    // unique column never mattered (the value at rank k is independent of
    // tie order) — so they come from Stats.valuesAtRanks' histogram
    // selection: the corpus collapses to a (value, count) histogram
    // map-side and only the SUPPORT is range-partitioned, vs the previous
    // globalRank shape that range-exchanged + checkpointed every (id,
    // value) row to rank all of them and then read back exactly two.
    // Nulls are excluded by valuesAtRanks (they'd otherwise claim the low
    // ranks); null rows still pass through the clip map below (clipCol
    // stays null).
    val (n, bounds) = graft.operators.Stats.valuesAtRanks(keyed, col("_wv")) { n =>
      Seq(loPermille.toLong * (n - 1) / 1000L, hiPermille.toLong * (n - 1) / 1000L)
    }
    require(n > 0, "winsorize needs a non-empty (non-null) input")
    val kLo = loPermille.toLong * (n - 1) / 1000L
    val kHi = hiPermille.toLong * (n - 1) / 1000L
    val lo = bounds(kLo)
    val hi = bounds(kHi)
    // explicit null passthrough: greatest/least SKIP null operands, so the
    // bare clip chain would silently pin a null value to the LOW bound
    keyed
      .withColumn(clipCol,
        when(col("_wv").isNull, lit(null).cast("long"))
          .otherwise(least(greatest(col("_wv"), lit(lo)), lit(hi))))
      .withColumn("clipped",
        coalesce(col("_wv") < lo || col("_wv") > hi, lit(false)))
      .drop("_wv")
  }
}
