package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.gf

/**
 * Deterministic stratified sampling — the reproducible counterpart of
 * Spark's `stat.sampleBy` (which is RNG-seeded per partition): keep/drop is
 * a pure function of (key, salt), so the same rows are selected regardless
 * of partitioning, engine, task retries, or cluster size, and disjoint
 * salts give disjoint train/holdout splits. Per-stratum fractions rebalance
 * skewed corpora (e.g. downsample the dominant language) in ONE scan with
 * no shuffle at all — the filter is row-local.
 */
object Sampling {

  /** Keep each stratum at its own fraction; strata absent from `fractions`
    * are dropped (same contract as sampleBy). Fractions are quantized to
    * 1/10000 (the hash-bucket resolution), round-to-nearest — truncation
    * made f = 0.35 select 3499 buckets (0.35 * 10000 is 3499.999... in
    * binary), off-by-one against any system reproducing the documented
    * cutoff. */
  def stratifiedByHash(df: DataFrame, key: String, stratum: String,
                       fractions: Map[String, Double], salt: String = ""): DataFrame = {
    require(fractions.nonEmpty, "need at least one stratum fraction")
    val k = col(key).cast("string")
    val bucket = pmod(
      gf.polyFingerprint(concat(k, lit(":"), lit(salt), lit(":"), k)), lit(10000L))
    val fracs = map(fractions.toSeq.sortBy(_._1)
      .flatMap { case (s, f) => Seq(lit(s), lit(math.round(f * 10000))) }: _*)
    // the map is keyed by string: cast the stratum (a no-op for strings)
    df.where(bucket < element_at(fracs, col(stratum).cast("string")))
  }

  /** The mixtures' driver pass: collect one long aggregate `agg` per
    * non-null stratum, keyed by the stratum cast to string (stratum-sized:
    * languages/sources number in the dozens, not the corpus scale). Strata
    * whose aggregate is null are skipped. `df` is read once: the collect
    * fills a lazy `localCheckpoint(false)` of it, and the mixture's filter
    * reads those rows (the returned frame) instead of re-running the input
    * plan. */
  private def strataTotals(df: DataFrame, stratum: String,
                           agg: Column): (DataFrame, Map[String, Long]) = {
    val in = df.localCheckpoint(false)
    val totals = in.groupBy(col(stratum).cast("string").as("_s"))
      .agg(agg.as("_t"))
      .collect().collect {
        case r if !r.isNullAt(0) && !r.isNullAt(1) => r.getString(0) -> r.getLong(1)
      }.toMap
    (in, totals)
  }

  /**
   * Weighted deterministic sampling: each row survives with probability
   * proportional to its weight (clamped to [0, 1]) — quality-proportional
   * corpus thinning ("keep good documents more often"), reproducible
   * across engines/partitionings because the coin is the same salted
   * polynomial hash as stratifiedByHash, compared against the row's own
   * weight in basis points. Weight must be a deterministic column
   * expression (a score, not a random). */
  def byWeight(df: DataFrame, key: String, weight: Column,
               salt: String = ""): DataFrame = {
    val k = col(key).cast("string")
    val bucket = pmod(
      gf.polyFingerprint(concat(k, lit(":"), lit(salt), lit(":"), k)), lit(10000L))
    val threshold = round(least(greatest(weight, lit(0.0)), lit(1.0)) * 10000).cast("long")
    df.where(bucket < threshold)
  }

  /**
   * Deterministic per-group cap: keep at most `k` rows per group, chosen
   * by hash order (a reproducible "random" k, not top-k by any metric) —
   * the per-source cap stage of corpus curation ("no source contributes
   * more than k documents"), and the per-class cap of eval-set
   * construction. Selection is a pure function of (key, salt): stable
   * across partitionings, engines, and re-runs, like stratifiedByHash.
   *
   * Compiles to partial+final WindowGroupLimit: each task keeps only its
   * local top-k per group before the shuffle, so the exchange carries
   * O(groups x k) rows per task, not the corpus.
   */
  def capPerGroup(df: DataFrame, key: String, group: String, k: Int,
                  salt: String = ""): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val kc = col(key).cast("string")
    val h = gf.polyFingerprint(concat(kc, lit(":"), lit(salt), lit(":"), kc))
    val w = Window.partitionBy(col(group)).orderBy(h.asc, col(key).asc)
    df.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .drop("_rn")
  }

  /**
   * Temperature-scaled source mixture (the multilingual-sampling policy of
   * mT5/XLM-R: draw probability ∝ count^α, α < 1 flattening the source
   * distribution so head sources stop drowning the tail). Expected draw
   * count for stratum s is `budgetDocs · w_s / Σw`, w_s = c_s^α; the
   * per-row keep rule is the same deterministic salted-hash coin as every
   * sampler here (reproducible, partitioning-independent).
   *
   * α is taken in QUARTERS (α = alphaQuarters/4, 1..4) so the weight is a
   * sqrt chain — c^¼ = sqrt(sqrt c), c^½ = sqrt c, c^¾ = their product.
   * IEEE sqrt is correctly rounded, so the driver-side fractions replay
   * bit-identically in a SQL oracle; a free-α variant would ride on
   * libm pow, whose last-ulp behavior is engine-specific (the same
   * reason Stats.scala refuses float variance). Published α=0.5 fits;
   * α=0.3-style presets round to the nearest quarter.
   *
   * Scale: the input is read once — one stratum-level count aggregate to
   * the driver (stratum cardinality-bounded, see `strataTotals`); the keep
   * rule is pure per-row codegen over the same materialised rows.
   */
  def temperatureMixture(df: DataFrame, key: String, stratum: String,
                         budgetDocs: Long, alphaQuarters: Int,
                         salt: String = ""): DataFrame = {
    require(alphaQuarters >= 1 && alphaQuarters <= 4,
      s"alphaQuarters must be in 1..4, got $alphaQuarters")
    require(budgetDocs >= 0, "budget must be non-negative")
    val (in, counts) = strataTotals(df, stratum, count(lit(1)))
    if (counts.isEmpty) return df.limit(0)
    def w(c: Long): Double = {
      val r2 = math.sqrt(c.toDouble)
      val r4 = math.sqrt(r2)
      alphaQuarters match {
        case 1 => r4
        case 2 => r2
        case 3 => r2 * r4
        case 4 => c.toDouble
      }
    }
    // deterministic left fold in stratum order — the oracle replays the
    // identical addition sequence (float + is not associative)
    val keys = counts.keys.toSeq.sorted
    val sumw = keys.foldLeft(0.0)((acc, s) => acc + w(counts(s)))
    val fractions = keys.map { s =>
      s -> math.min(1.0, budgetDocs.toDouble * w(counts(s)) / sumw / counts(s))
    }.toMap
    stratifiedByHash(in, key, stratum, fractions, salt)
  }

  /**
   * Token-budget data mixture (the "data mixing" stage of a pretraining
   * pipeline: hit per-source/per-language token targets, e.g. rebalance a
   * web-heavy crawl): per-stratum keep fractions are DERIVED from the
   * observed token mass — fraction(s) = min(1, budget(s) / tokens(s)) — and
   * applied with the deterministic hash rule above, so the mixture is
   * reproducible across engines and re-runs. Strata without a budget are
   * dropped; strata under their budget keep everything.
   *
   * Scale: the input is read once — one aggregation pass collects the
   * per-stratum token totals (stratum-sized, see `strataTotals`), then a
   * shuffle-free filter reads the same materialised rows.
   */
  def tokenBudgetMixture(df: DataFrame, key: String, stratum: String,
                         tokens: Column, budgets: Map[String, Long],
                         salt: String = ""): DataFrame = {
    require(budgets.nonEmpty, "need at least one stratum budget")
    // a stratum whose every row has null tokens sums to null and is
    // skipped by strataTotals; zero-token strata stay, with fraction
    // min(1, b/0 = Inf) = 1 — they consume no budget, same as the oracle's
    // least(1.0, x/0) semantics
    val (in, totals) = strataTotals(df, stratum, sum(tokens.cast("long")))
    val fractions = budgets.flatMap { case (s, b) =>
      totals.get(s).map(t => s -> math.min(1.0, b.toDouble / t))
    }
    if (fractions.isEmpty) df.limit(0)
    else stratifiedByHash(in, key, stratum, fractions, salt)
  }

  /**
   * Fractional-epoch UPsampling — the data-repetition half of mixture
   * policy that [[tokenBudgetMixture]]'s `min(1, budget/tokens)` cannot
   * express: modern pretraining mixes see scarce high-quality sources
   * MORE than once (e.g. ~2.4 epochs of one corpus while a web crawl gets
   * 0.6). Per-stratum epochs e = budget/total are quantized to basis
   * points with exact integer division; each row is emitted
   * floor(e) times, plus one extra copy when its salted hash bucket falls
   * under frac(e) — so the expected stratum mass meets the budget, the
   * SAME rows get the extra copy on every engine/run/partitioning, and
   * disjoint salts vary which rows repeat. Output adds an `epoch` column
   * (0-based copy index) so downstream shuffling/packing can separate
   * copies; strata without a budget are dropped (tokenBudgetMixture's
   * contract).
   *
   * Scale: the input is read once — one stratum-sized aggregate to the
   * driver (`strataTotals`), then a row-local explode of
   * `sequence(0, copies-1)` over the same rows — output-bounded, no shuffle.
   * `maxEpochs` guards against a misconfigured budget exploding a row
   * into millions of copies (a budget 1000× the corpus is a config bug,
   * not a mixture).
   */
  def epochMixture(df: DataFrame, key: String, stratum: String,
                   tokens: Column, budgets: Map[String, Long],
                   salt: String = "", maxEpochs: Int = 1000): DataFrame = {
    require(budgets.nonEmpty, "need at least one stratum budget")
    require(maxEpochs >= 1, s"maxEpochs must be positive: $maxEpochs")
    val (in, allTotals) = strataTotals(df, stratum, sum(tokens.cast("long")))
    val totals = allTotals.filter(_._2 > 0)
    // exact integer basis points (floor); budget*10000 must stay in long —
    // enforced loudly, since a 920T-token stratum budget is conceivable at
    // extreme scale and a silent overflow would flip ebp negative (every
    // row of the richest stratum dropped with no error)
    val ebp = budgets.flatMap { case (s, b) =>
      require(b >= 0 && b <= Long.MaxValue / 10000L,
        s"epochMixture: budget for '$s' out of range: $b")
      totals.get(s).map { t =>
        val e = b * 10000L / t
        require(e <= maxEpochs.toLong * 10000L,
          s"epochMixture: stratum '$s' would repeat ${e / 10000.0} epochs " +
            s"(> maxEpochs=$maxEpochs) — budget $b vs observed mass $t")
        s -> e
      }
    }
    if (ebp.isEmpty) return df.withColumn("epoch", lit(0L)).limit(0)
    val k = col(key).cast("string")
    val bucket = pmod(
      gf.polyFingerprint(concat(k, lit(":"), lit(salt), lit(":"), k)), lit(10000L))
    val em = map(ebp.toSeq.sortBy(_._1)
      .flatMap { case (s, e) => Seq(lit(s), lit(e)) }: _*)
    in.withColumn("_ebp", element_at(em, col(stratum).cast("string")))
      // DIV: exact integral division (never double floor); null _ebp
      // (unbudgeted stratum) nulls copies and the filter drops the row
      .withColumn("_copies",
        expr("_ebp DIV 10000") +
          when(bucket < pmod(col("_ebp"), lit(10000L)), 1L).otherwise(0L))
      .where(col("_copies") >= 1L)
      .withColumn("epoch", explode(sequence(lit(0L), col("_copies") - 1L)))
      .drop("_ebp", "_copies")
  }

  /** Leakage-safe train/val/test split: the split is a pure function of
    * the GROUP id (a near-dup component root, a registered domain, a
    * source shard), never of the row — so related rows land in the same
    * split by construction and a holdout can't be contaminated by a
    * near-duplicate of a training row (the failure mode group-unaware
    * random splits have on deduplicate-later corpora). Same salted
    * rolling-hash bucket rule as [[stratifiedByHash]]: deterministic
    * across engines/partitionings, basis-point thresholds
    * (`train < trainBp ≤ val < valBp ≤ test`). Row-local once the group
    * column exists — zero shuffle on top of whatever produced the groups. */
  def groupSplit(df: DataFrame, idCol: String, groupCol: String, salt: String = "",
                 trainBp: Int = 8000, valBp: Int = 9000): DataFrame = {
    require(0 <= trainBp && trainBp <= valBp && valBp <= 10000,
      s"need 0 <= trainBp=$trainBp <= valBp=$valBp <= 10000")
    val k = col(groupCol).cast("string")
    val bucket = pmod(
      gf.polyFingerprint(concat(k, lit(":"), lit(salt), lit(":"), k)), lit(10000L))
    df.select(col(idCol), col(groupCol).as("group_id"),
      when(bucket < trainBp, lit("train"))
        .when(bucket < valBp, lit("val"))
        .otherwise(lit("test")).as("split"))
  }

  /** Deterministic k-fold assignment: `fold` = the key's salted
    * rolling-hash value mod k — cross-validation folds that are
    * reproducible across engines, runs, and partitionings (the
    * [[groupSplit]] bucket rule with a modulus instead of thresholds;
    * fold membership must never depend on execution). Key on a GROUP
    * column when related rows must share a fold. Row-local: zero shuffle,
    * zero driver state. */
  def kFold(df: DataFrame, keyCol: String, k: Int, salt: String = ""): DataFrame = {
    require(k >= 2, s"need k >= 2 folds: $k")
    val kc = col(keyCol).cast("string")
    df.withColumn("fold", pmod(
      gf.polyFingerprint(concat(kc, lit(":"), lit(salt), lit(":"), kc)),
      lit(k.toLong)))
  }
}
