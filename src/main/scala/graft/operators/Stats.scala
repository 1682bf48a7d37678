package graft.operators

import graft.Stored
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Corpus statistics with DETERMINISTIC formulations. Spark's built-in
 * `corr`/`stddev` accumulate floating-point moments in partition order, so
 * two runs (or two engines) can disagree in the last ulps. Here every
 * aggregate is an EXACT integer sum (order-free); the handful of double
 * operations that follow run in one fixed expression order, and +,-,*,/ and
 * sqrt are all correctly rounded under IEEE 754 — so given equal integer
 * moments the result is bit-identical on any engine.
 *
 * The integer moments bound the input ranges: Σxy over int32-ish values is
 * safe in int64 to ~10^9 rows x 10^9 magnitude products; beyond that, split
 * the corpus and combine moments (they are additive) or scale the units.
 */
object Stats {

  /** Pearson correlation of two integer-valued columns. One aggregation
    * pass (map-side combine), one output row: (n, corr). Rows where either
    * side is null are excluded BEFORE aggregating — count(*) over all rows
    * with null-skipping sums would silently mix row subsets and fabricate
    * correlations. */
  def pearson(df: DataFrame, x: Column, y: Column): DataFrame = {
    val m = df.where(x.isNotNull && y.isNotNull).agg(
      count(lit(1)).as("n"),
      sum(x.cast("long")).as("sx"),
      sum(y.cast("long")).as("sy"),
      sum((x.cast("long") * y.cast("long"))).as("sxy"),
      sum((x.cast("long") * x.cast("long"))).as("sxx"),
      sum((y.cast("long") * y.cast("long"))).as("syy"))
    val n = col("n").cast("double")
    val cov = n * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val vx = n * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    val vy = n * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")
    m.select(col("n"),
      when(vx > 0 && vy > 0, graft.functions.gf.roundHalfUp(cov / (sqrt(vx) * sqrt(vy)), 6)).as("corr"))
  }

  /** Two-proportion z-test (pooled): one row per experiment with group
    * sizes, successes, rates, and the z statistic. `group` must be
    * two-valued; `success` boolean. All counts are exact integers; the z
    * formula runs in one fixed double-expression order. */
  def twoProportionZ(df: DataFrame, unit: Column, group: Column,
                     success: Column): DataFrame = {
    // one row per group value, validated to exactly two groups — extra
    // groups silently vanishing, or one group compared against itself,
    // would be a wrong answer with no error. r21: the 2-row frame is
    // collected once (take(3) bounds the fetch whatever the group count)
    // and re-entered as a one-row literal relation through the SAME final
    // expression chain — the old shape spent a checkpoint + limit-count +
    // two orderBy/limit jobs on two rows.
    val per = df
      .groupBy(unit.as("_u"), group.as("_g"))
      .agg(max(success.cast("int")).as("_s")) // a unit converts if it ever succeeded
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("n"), sum(col("_s")).cast("long").as("x"))
    val gType = per.schema("_g").dataType
    // ORDERED collect: Spark's own asc (nulls first) on the native group
    // type reproduces the old a=orderBy(asc).limit(1) / b=desc assignment
    // for any group type; take(3) bounds the fetch whatever the count
    val rows = per.orderBy(col("_g")).take(3)
    require(rows.length == 2, s"twoProportionZ needs exactly 2 group values, found ${rows.length}" +
      (if (rows.length > 2) "+" else ""))
    val spark = df.sparkSession
    val (ra, rb) = (rows(0), rows(1))
    // cast pins the group columns to their native type even for a null
    // group value (lit(null) alone would type them NullType); x is null
    // when every unit's success is null — re-enter it as a typed null so
    // the z propagates null like the pre-collect column shape did, instead
    // of a bare NPE from getLong (ADVICE r21 item 2)
    def xOf(r: org.apache.spark.sql.Row) =
      (if (r.isNullAt(2)) lit(null) else lit(r.getLong(2))).cast("long")
    val j = spark.range(1).select(
      lit(ra.get(0)).cast(gType).as("group_a"),
      lit(ra.getLong(1)).as("n_a"), xOf(ra).as("x_a"),
      lit(rb.get(0)).cast(gType).as("group_b"),
      lit(rb.getLong(1)).as("n_b"), xOf(rb).as("x_b"))
    val p1 = col("x_a").cast("double") / col("n_a").cast("double")
    val p2 = col("x_b").cast("double") / col("n_b").cast("double")
    val p = (col("x_a") + col("x_b")).cast("double") / (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(p * (lit(1.0) - p) *
      (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    j.select(col("group_a"), col("n_a"), col("x_a"),
      col("group_b"), col("n_b"), col("x_b"),
      graft.functions.gf.roundHalfUp(p1, 6).as("rate_a"), graft.functions.gf.roundHalfUp(p2, 6).as("rate_b"),
      when(se > 0, graft.functions.gf.roundHalfUp((p1 - p2) / se, 6)).as("z"))
  }

  /**
   * Two-sample Kolmogorov-Smirnov distance over an INTEGER-valued column
   * — the distribution-drift monitor between two corpus slices (old vs
   * new crawl snapshot, train vs eval pool). KS = max |CDF_a − CDF_b|,
   * held EXACT as the rational ks_num/ks_den: with per-value cumulative
   * counts ca/cb and totals na/nb, ks_num = max |ca·nb − cb·na| and
   * ks_den = na·nb — pure integers, no float CDF ever crosses an engine
   * (PSI/KL, the common alternatives, need logs and can't do this).
   *
   * Scale: rows collapse to (value, side) counts map-side FIRST; the max
   * cumulative diff then runs over the DISTINCT VALUE SUPPORT by the
   * offsets-and-walk pattern (range-partition the histogram, collect the
   * metadata-sized per-partition (Σa, Σb), stream one pass per partition
   * tracking max |ca·nb − cb·na|) — no single-partition window anywhere,
   * so even a support that approaches row count (timestamps, cents)
   * stays parallel. One output row.
   */
  /** Per-group skewness / excess kurtosis from EXACT integer power sums:
    * Σv, Σv², Σv³, Σv⁴ accumulate in decimal(38,0) (a 600k-row cents
    * column's 4th-power sum tops 10³³ — double accumulation would shed
    * low bits nondeterministically with partition order), then the
    * central-moment formulas run once per GROUP on double casts of the
    * exact sums with a fixed association order, so both engines execute
    * the identical IEEE chain: m₂/m₃/m₄ via the raw-moment expansion,
    * skew = m₃/(m₂·√m₂) (sqrt, never pow^1.5), kurt = m₄/m₂² − 3.
    * Output: (group, n, mean, m2, skewness, kurtosis), group-ordered,
    * 6dp. One aggregation pass, map-side combinable. */
  def moments(df: DataFrame, group: Column, value: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val v = value.cast("long").cast(dec)
    val agg = df.where(value.isNotNull).groupBy(group.as("group")).agg(
      count(lit(1)).as("n"),
      sum(v).as("_s1"),
      sum(v * v).cast(dec).as("_s2"),
      sum(v * v * v).cast(dec).as("_s3"),
      sum(v * v * v * v).cast(dec).as("_s4"))
    val n = col("n").cast("double")
    val d1 = col("_s1").cast("double"); val d2 = col("_s2").cast("double")
    val d3 = col("_s3").cast("double"); val d4 = col("_s4").cast("double")
    val mean = d1 / n
    val m2 = d2 / n - mean * mean
    val m3 = d3 / n - lit(3.0) * mean * (d2 / n) + lit(2.0) * mean * mean * mean
    val m4 = d4 / n - lit(4.0) * mean * (d3 / n) +
      lit(6.0) * mean * mean * (d2 / n) - lit(3.0) * mean * mean * mean * mean
    agg.select(col("group"), col("n"),
        graft.functions.gf.roundHalfUp(mean, 6).as("mean"),
        graft.functions.gf.roundHalfUp(m2, 6).as("m2"),
        graft.functions.gf.roundHalfUp(when(m2 > 0, m3 / (m2 * sqrt(m2))).otherwise(lit(0.0)), 6).as("skewness"),
        graft.functions.gf.roundHalfUp(when(m2 > 0, m4 / (m2 * m2) - lit(3.0)).otherwise(lit(0.0)), 6).as("kurtosis"))
      .orderBy(col("group"))
  }

  /** Per-group robust outlier summary via median/MAD, EXACT end to end:
    * medians are represented as the SUM OF THE TWO MIDDLE VALUES in value
    * order (med2 = 2·median, always integer — no .5 doubles cross
    * engines), deviations as D = |2·value − med2|, the MAD as mad4 =
    * two-middle-sum of D (= 4·MAD), and the 3σ-equivalent flag
    * |value − med| > 3·1.4826·MAD becomes the pure integer comparison
    * 20000·D > 44478·mad4 (1.4826 = 14826/10000, both sides ×20000).
    * Output: (group, n, med2, mad4, n_outliers), group-ordered.
    *
    * Scale shape: rows collapse to a per-(group, value) HISTOGRAM first
    * (map-side combine — the frame is support-sized from here on, and the
    * unique column never matters: the values at the middle ranks depend
    * only on the sorted multiset). The middle-rank selection
    * (twoMiddleSumSel) range-partitions the histogram on (group, value) —
    * so ONE GIANT GROUP SPLITS ACROSS PARTITIONS instead of serializing
    * onto one task the way a `Window.partitionBy(group).orderBy(value)`
    * sort would — collects metadata-sized per-(partition, group) counts,
    * and streams one walk. A histogram row [cum−c, cum] covers a
    * middle rank iff the rank lands in that span; its value contributes
    * once per covered rank (twice when odd-n makes both ranks coincide).
    * Deviations re-collapse to a (group, D) histogram and take the same
    * path. No per-group row sort exists anywhere in the plan. */
  def robustOutliers(df: DataFrame, group: Column, value: Column,
                     unique: Column): DataFrame = {
    val base = df.select(group.as("_g"), value.cast("long").as("_v"))
      .where(col("_v").isNotNull)
    val hist = base.groupBy(col("_g"), col("_v")).agg(count(lit(1)).as("_c"))
    // value-phase order: one range exchange on (_g, _v); the frame is read
    // three times (rank metadata, rank emit, deviation derivation)
    val ranged = Stored.cached(hist.repartitionByRange(col("_g"), col("_v"))
      .sortWithinPartitions(col("_g"), col("_v")))
    // med2 is group-sized and referenced twice, but (r21) it is now a
    // driver-local one-partition relation — already a leaf, nothing to
    // re-scan, no checkpoint needed
    val med2 = twoMiddleSumSel(ranged, "_v", "med2")
    // deviation-phase order: D = |2v − med2| does NOT preserve value order
    // (it folds the axis around the median), so the value-phase exchange
    // cannot be reused — this second range exchange is inherent to the
    // exact-MAD contract (r17 ADVICE follow-up: the two phases don't
    // compose; what WAS removable is everything else — the prefix-sum
    // hierarchy, its windows, and the separate deviation re-histogram,
    // all replaced by the selection passes below). Duplicate (_g, _d)
    // rows need no re-collapse: the rank-coverage walk only needs equal
    // keys contiguous, which the range partitioner guarantees.
    val dev = ranged.join(broadcast(med2), Seq("_g"))
      .select(col("_g"), abs(col("_v") * 2 - col("med2")).as("_d"), col("_c"))
    val devRanged = Stored.cached(dev.repartitionByRange(col("_g"), col("_d"))
      .sortWithinPartitions(col("_g"), col("_d")))
    val mad4 = twoMiddleSumSel(devRanged, "_d", "mad4")
    devRanged.join(broadcast(med2), Seq("_g")).join(broadcast(mad4), Seq("_g"))
      .groupBy(col("_g").as("group"))
      .agg(sum(col("_c")).as("n"),
        max(col("med2")).as("med2"),
        max(col("mad4")).as("mad4"),
        sum(when(col("_d") * 20000L > col("mad4") * 44478L, col("_c"))
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("group"))
  }

  /** Per-group sum of the values at the two middle ranks (1-based ranks
    * floor((n+1)/2) and floor(n/2)+1 — equal for odd n, adjacent for even;
    * the sum is 2·median, always an exact integer) by classic two-phase
    * distributed selection over a pre-range-partitioned (_g, key, _c)
    * frame: (1) a per-(partition, group) count collect — METADATA, not
    * data: range partitioning keeps each group on a contiguous partition
    * run, so the collect is O(partitions + groups) rows at any data size —
    * and (2) one streaming pass emitting each covered rank's key, with the
    * <= 2-per-group hit rows summed on the DRIVER and re-entered as a
    * one-partition relation (r21: the hit set is output-sized — group
    * cardinality — and phase 1 already collects that much; the previous
    * distributed groupBy spent an exchange plus two aggregate stages on a
    * handful of rows, ~0.3 s of pure stage overhead per call at the gate
    * scale). Replaces a prefix-sum hierarchy (4 aggregation levels +
    * windows + joins) with zero additional exchanges. Input must be
    * range-partitioned and sorted within partitions on (_g, key); equal
    * keys may span rows but not partitions (the RangePartitioner
    * contract). The walks stay on `ranged.rdd`, NOT queryExecution.toRdd:
    * the input is a columnar MEMORY_AND_DISK cache, and the Dataset.rdd
    * path fuses cache-scan → row conversion → deserialize into one codegen
    * pass, while a bare toRdd consumer pays a standalone ColumnarToRow
    * materialization — measured ~0.5 s SLOWER per robustOutliers call
    * (the opposite holds for Packing's checkpoint-backed frames, where
    * toRdd reads the stored rows directly). */
  private def twoMiddleSumSel(ranged: DataFrame, key: String,
                              out: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = ranged.sparkSession
    val gIdx = ranged.schema.fieldIndex("_g")
    val kIdx = ranged.schema.fieldIndex(key)
    val cIdx = ranged.schema.fieldIndex("_c")
    // phase 1: per-(partition, group) counts
    val partCounts: Array[(Int, Any, Long)] =
      ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
        val m = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
        it.foreach { r =>
          val g = r.get(gIdx)
          m.update(g, m.getOrElse(g, 0L) + r.getLong(cIdx))
        }
        m.iterator.map { case (g, n) => (pid, g, n) }
      }.collect()
    // driver-side: per-group totals -> target ranks; per-(pid, group)
    // exclusive start offsets (counts in lower-pid partitions)
    val byGroup = partCounts.groupBy(_._2)
    val targets: Map[Any, (Long, Long)] = byGroup.map { case (g, a) =>
      val n = a.iterator.map(_._3).sum
      g -> (((n + 1) / 2, n / 2 + 1))
    }
    val offsets: Map[(Int, Any), Long] = byGroup.flatMap { case (g, a) =>
      var acc = 0L
      a.sortBy(_._1).map { case (pid, _, n) =>
        val s = acc; acc += n; ((pid, g), s)
      }
    }
    val bT = spark.sparkContext.broadcast(targets)
    val bO = spark.sparkContext.broadcast(offsets)
    val schema = StructType(Seq(ranged.schema("_g"), StructField(out, LongType)))
    // phase 2: walk each partition in key order, emit covered-rank keys
    val hits = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      val t = bT.value; val o = bO.value
      var curG: Any = null
      var cum = 0L
      var started = false
      it.flatMap { r =>
        val g = r.get(gIdx)
        if (!started || g != curG) {
          curG = g; cum = o.getOrElse((pid, g), 0L); started = true
        }
        val before = cum
        cum += r.getLong(cIdx)
        val (lo, hi) = t(g)
        val cover = (if (lo > before && lo <= cum) 1L else 0L) +
          (if (hi > before && hi <= cum) 1L else 0L)
        if (cover > 0) Iterator.single((g, r.getLong(kIdx) * cover))
        else Iterator.empty
      }
      // <= 2 emitted rows per group overall — summed on the DRIVER (the
      // per-group totals already live there from phase 1, so this adds
      // nothing asymptotically) and re-entered as a one-partition internal
      // relation: the previous distributed groupBy spent an exchange + two
      // aggregate stages on a handful of rows
    }.collect()
    val sums = hits.groupBy(_._1).map { case (g, a) => (g, a.map(_._2).sum) }.toSeq
    val rows = sums.map { case (g, v) => org.apache.spark.sql.Row(g, v) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Per-group simple OLS trend y = intercept + slope·x over two
    * integer-valued columns, from EXACT decimal(38,0) moment sums (the
    * `moments` pattern: cross products of cents-scale values overflow
    * int64, and double accumulation sheds low bits with partition order).
    * The closed forms then run ONCE per group on double casts of the
    * exact sums in a fixed IEEE chain: slope = cov/vx with
    * cov = n·Σxy − Σx·Σy, vx = n·Σx² − (Σx)²; intercept =
    * (Σy − (cov/vx)·Σx)/n; r² = (cov/vx)·(cov/vy) — the expression
    * SHAPES are part of the contract (an algebraically equal different
    * association order rounds differently). Output: (group, n, slope,
    * intercept, r2), group-ordered, 6dp; slope/intercept null for
    * degenerate x (vx = 0), r2 additionally null for constant y. */
  def olsBy(df: DataFrame, group: Column, x: Column, y: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val xi = x.cast("long")
    val yi = y.cast("long")
    val xl = xi.cast(dec)
    val yl = yi.cast(dec)
    // r22: the per-row cross products multiply in LONG and enter decimal
    // only at the SUM — same integer summands, so the exact sums (and the
    // double chain below) are bit-identical. Callers must keep |x|,|y|
    // small enough that |x·y|, |x²|, |y²| < 2⁶³ PER ROW (a bound on value
    // RANGES, independent of row count; the engine's caller has days
    // ≤ 1.2e4 × cents ≤ 1.1e7 → products ≤ 1.3e14). Only the running sums
    // overflow int64 with row count, and those stay decimal(38,0). Under
    // ANSI (the default) a violating caller fails loudly, not silently.
    val a = df.where(x.isNotNull && y.isNotNull).groupBy(group.as("group")).agg(
      count(lit(1)).as("n"),
      sum(xl).as("_sx"), sum(yl).as("_sy"),
      sum((xi * yi).cast(dec)).cast(dec).as("_sxy"),
      sum((xi * xi).cast(dec)).cast(dec).as("_sxx"),
      sum((yi * yi).cast(dec)).cast(dec).as("_syy"))
    val n = col("n").cast("double")
    val sx = col("_sx").cast("double"); val sy = col("_sy").cast("double")
    val sxy = col("_sxy").cast("double"); val sxx = col("_sxx").cast("double")
    val syy = col("_syy").cast("double")
    val cov = n * sxy - sx * sy
    val vx = n * sxx - sx * sx
    val vy = n * syy - sy * sy
    a.select(col("group"), col("n"),
        graft.functions.gf.roundHalfUp(when(vx > 0, cov / vx), 6).as("slope"),
        graft.functions.gf.roundHalfUp(when(vx > 0, (sy - (cov / vx) * sx) / n), 6).as("intercept"),
        graft.functions.gf.roundHalfUp(when(vx > 0 && vy > 0, (cov / vx) * (cov / vy)), 6).as("r2"))
      .orderBy(col("group"))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns. Counts are exact integers; each cell's statistic term is
    * (O·N − R·C)² / (N·R·C) — numerator in decimal(38,0) (O·N tops 10¹²
    * on a 10⁶-row corpus and is then squared), denominator likewise —
    * and the cell terms are summed IN (row, col) ORDER via an ordered
    * fold: float + is not associative, so an unordered SUM could differ
    * in last ulps across engines (the temperature-mixture list_reduce
    * pattern). The contingency table is category-cardinality-sized by
    * nature, so the single-row fold is bounded. Output one row:
    * (n, n_rows, n_cols, dof, chi2) with chi2 6dp. */
  def chiSquare(df: DataFrame, rowC: Column, colC: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = Stored.cached(df.where(rowC.isNotNull && colC.isNotNull)
      .groupBy(rowC.cast("string").as("_r"), colC.cast("string").as("_c"))
      .agg(count(lit(1)).as("_o")))
    val rt = cells.groupBy(col("_r")).agg(sum(col("_o")).as("_rt"))
    val ct = cells.groupBy(col("_c")).agg(sum(col("_o")).as("_ct"))
    val tot = cells.agg(sum(col("_o")).as("_n"),
      countDistinct(col("_r")).as("n_rows"), countDistinct(col("_c")).as("n_cols"))
    val term = {
      val num = (col("_o").cast(dec) * col("_n").cast(dec)
        - col("_rt").cast(dec) * col("_ct").cast(dec))
      val den = col("_n").cast(dec) * col("_rt").cast(dec) * col("_ct").cast(dec)
      (num * num).cast(dec).cast("double") / den.cast("double")
    }
    cells.join(broadcast(rt), "_r").join(broadcast(ct), "_c")
      .crossJoin(broadcast(tot))
      .select(col("_n"), col("n_rows"), col("n_cols"),
        struct(col("_r"), col("_c")).as("_k"), term.as("_t"))
      .groupBy(col("_n").as("n"), col("n_rows"), col("n_cols"))
      .agg(sort_array(collect_list(struct(col("_k"), col("_t")))).as("_a"))
      .select(col("n"), col("n_rows"), col("n_cols"),
        ((col("n_rows") - 1) * (col("n_cols") - 1)).as("dof"),
        graft.functions.gf.roundHalfUp(aggregate(col("_a"), lit(0.0),
          (acc, s) => acc + s.getField("_t")), 6).as("chi2"))
  }

  /**
   * EXACT order statistics of an integer column by histogram selection —
   * the values at caller-chosen 0-based global ranks of the sorted order
   * (nulls excluded), plus the non-null row count. `ranks0` receives n and
   * returns the wanted ranks (they usually depend on n — permille bounds,
   * medians).
   *
   * 100 TB shape (r21, replaces full-corpus globalRank selection in
   * winsorize): rows collapse to a (value, count) HISTOGRAM first — one
   * map-side-combined aggregate, support-sized from here on — then ONE
   * range exchange of the histogram, a per-partition count collect
   * (METADATA: O(partitions) rows at any corpus size), and a streaming
   * walk that emits only the covered ranks. The corpus itself is scanned
   * once and never shuffled; the previous shape range-partitioned and
   * checkpointed EVERY (id, value) row to rank all of them when only two
   * ranks were ever read. Ties need no tiebreaker: the value at rank k of
   * the sorted multiset is independent of tie order.
   */
  def valuesAtRanks(df: DataFrame, value: Column)
                   (ranks0: Long => Seq[Long]): (Long, Map[Long, Long]) = {
    val spark = df.sparkSession
    val parts = spark.sparkContext.defaultParallelism
    val hist = Stored.now(df.select(value.cast("long").as("_v")).where(col("_v").isNotNull)
      .groupBy(col("_v")).agg(count(lit(1)).as("_c"))
      .repartitionByRange(parts, col("_v"))
      .sortWithinPartitions(col("_v")))
    val pc = hist.groupBy(spark_partition_id().as("_pid")).agg(sum(col("_c")).as("_n"))
      .collect().collect { case r if !r.isNullAt(1) => r.getInt(0) -> r.getLong(1) }.toMap
    val n = pc.values.sum
    if (n == 0) return (0L, Map.empty)
    val ks = ranks0(n).distinct.sorted
    require(ks.forall(k => k >= 0 && k < n), s"ranks out of [0, $n): $ks")
    val orderedP = pc.keys.toSeq.sorted
    val excl = orderedP.zip(orderedP.scanLeft(0L)((a, p) => a + pc(p)).dropRight(1)).toMap
    val bK = spark.sparkContext.broadcast(ks.map(_ + 1L)) // 1-based positions
    val vIdx = hist.schema.fieldIndex("_v")
    val cIdx = hist.schema.fieldIndex("_c")
    val found = org.apache.spark.sql.graft.InternalRowBridge.toInternalRdd(hist)
      .mapPartitionsWithIndex { (pid, it) =>
        val targets = bK.value
        var cum = excl.getOrElse(pid, 0L)
        it.flatMap { r =>
          val before = cum
          cum += r.getLong(cIdx)
          targets.collect {
            case t if t > before && t <= cum => (t - 1L, r.getLong(vIdx))
          }
        }
      }.collect()
    (n, found.toMap)
  }

  def ksDistance(df: DataFrame, value: Column, side: Column): DataFrame = {
    val spark = df.sparkSession
    // pmod, not %: Spark % is a REMAINDER, so a negative side label would
    // map to -1 and its rows would silently vanish from both CDFs
    val c = df.where(value.isNotNull)
      .groupBy(value.cast("long").as("_v"),
        pmod(side.cast("long"), lit(2L)).as("_s"))
      .agg(count(lit(1)).as("_n"))
    val g = c.groupBy(col("_v")).agg(
        sum(when(col("_s") === 0, col("_n")).otherwise(0L)).as("_a"),
        sum(when(col("_s") === 1, col("_n")).otherwise(0L)).as("_b"))
    // r21: the cumulative diff max comes from the offsets-and-walk pattern
    // (the valuesAtRanks shape) instead of the 4-level bucketed prefix-sum
    // hierarchy — the support histogram is range-partitioned ONCE, the
    // per-partition (Σa, Σb) collect is metadata-sized, and a single
    // streaming pass tracks max |ca·nb − cb·na| per partition (the old
    // runningTotalsBy finish spent ~13 exchanges + windows + a non-equi
    // self-join materializing full cumulative columns that were only ever
    // MAX-reduced). Same integer math, same long-overflow envelope.
    val parts = spark.sparkContext.defaultParallelism
    val ranged = Stored.now(g.repartitionByRange(parts, col("_v"))
      .sortWithinPartitions(col("_v")))
    val pc = ranged.groupBy(spark_partition_id().as("_pid"))
      .agg(sum(col("_a")).as("_sa"), sum(col("_b")).as("_sb"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val na = pc.values.map(_._1).sum
    val nb = pc.values.map(_._2).sum
    val orderedP = pc.keys.toSeq.sorted
    val excl: Map[Int, (Long, Long)] = orderedP.zip(
      orderedP.scanLeft((0L, 0L)) { case ((a, b), p) =>
        (a + pc(p)._1, b + pc(p)._2) }.dropRight(1)).toMap
    val aIdx = ranged.schema.fieldIndex("_a")
    val bIdx = ranged.schema.fieldIndex("_b")
    val ksNum = org.apache.spark.sql.graft.InternalRowBridge.toInternalRdd(ranged)
      .mapPartitionsWithIndex { (pid, it) =>
        var (ca, cb) = excl.getOrElse(pid, (0L, 0L))
        var best = 0L
        it.foreach { r =>
          ca += r.getLong(aIdx); cb += r.getLong(bIdx)
          val d = math.abs(ca * nb - cb * na)
          if (d > best) best = d
        }
        Iterator.single(best)
      }.collect().foldLeft(0L)(math.max)
    // the one-row result re-enters through the SAME expression chain the
    // old plan ended in, so the rounded ks is bit-identical; an empty
    // input yields an empty frame (the old groupBy-of-nothing shape)
    spark.range(if (pc.isEmpty) 0 else 1)
      .select(lit(na).as("n_a"), lit(nb).as("n_b"),
        lit(ksNum).as("ks_num"))
      .select(col("n_a"), col("n_b"), col("ks_num"),
        (col("n_a") * col("n_b")).as("ks_den"),
        graft.functions.gf.roundHalfUp(col("ks_num").cast("double") / (col("n_a") * col("n_b")), 6).as("ks"))
  }
}
