package graft.operators

import graft.Stored
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Pairwise-preference scoring for RLHF-style data curation: given
 * (winner, loser) comparison pairs — human preference labels, model
 * win-rates, A/B outcomes — estimate a per-item strength score via the
 * Bradley-Terry model's MM update (Hunter 2004, "MM algorithms for
 * generalized Bradley-Terry models"):
 *
 *   p_i <- W_i / Σ_{pairs (i,j)} 1 / (p_i + p_j)
 *
 * No reference counterpart (the reference has no preference-data surface);
 * this is an engine addition in the training-data family next to
 * hard-negative mining and the quality classifiers.
 *
 * Engine shape: the update is pure joins + aggregates on the item key —
 * the PageRank shape — so T iterations are T shuffles on (id), with no
 * driver-side state and no per-item loops. Scales with pairs, not items².
 *
 * INTEGER-EXACT by construction (the repo's micro-quantization
 * discipline): scores live in micros, every division is an exact integral
 * division, and each iteration clamps scores to [1e3, 1e9] — which anchors
 * the MM iterate (together with one virtual win AND loss against a fixed
 * phantom at 1e6 micros, the standard regularizer that keeps zero-win
 * items finite). The per-pair contribution floor(1e12 / (pa + pb)) uses
 * double division, exact because the numerator is a constant 1e12 < 2⁵²;
 * the score update's numerator (n_wins + 1)·1e12 is NOT bounded, so it is
 * computed as DECIMAL and divided with `DIV` (IntegralDivide) — exact for
 * every n_wins, with no 2⁵²-floor drift and no long-multiply overflow at
 * n_wins ≳ 9.2e6. A DuckDB `//` replay matches bit-for-bit (beyond
 * n_wins ~9.2e6 the DuckDB side must widen its numerator to HUGEINT,
 * since BIGINT `*` errors on overflow there). Remaining documented bound:
 * `den` (a sum of per-pair longs ≤ 1e9 each) overflows long only past
 * ~9.2e9 pairs on ONE item — beyond any single-key cardinality this
 * operator is sane for.
 */
object Preference {

  private val Unit6 = 1000000L          // 1.0 in micros
  private val Num = 1000000000000L      // 1e12 contribution numerator
  private val PMin = 1000L
  private val PMax = 1000000000L

  /** Per-item Bradley-Terry strengths from (winner, loser) pairs.
    * Output: (id string, n_wins, n_pairs, score_micros), id-ordered. */
  def bradleyTerry(pairs: DataFrame, winner: String, loser: String,
                   iters: Int = 3): DataFrame = {
    val p0 = pairs
      .select(col(winner).cast("string").as("w"), col(loser).cast("string").as("l"))
      .where(col("w").isNotNull && col("l").isNotNull && col("w") =!= col("l"))
    // the scope releases edges, base and every round's scores once the
    // result is stored; the result outlives it
    val ranked = Stored.scoped {
      // participation edges: each pair feeds BOTH endpoints' denominator
      val edges = Stored.cached(p0.select(col("w").as("id"), col("w").as("a"), col("l").as("b"))
        .unionAll(p0.select(col("l").as("id"), col("w").as("a"), col("l").as("b"))))
      val base = Stored.cached(edges.groupBy(col("id"))
        .agg(sum(when(col("id") === col("a"), 1L).otherwise(0L)).as("n_wins"),
          count(lit(1)).as("n_pairs")))

      var scores = base.select(col("id"), lit(Unit6).as("p"))
      for (_ <- 0 until iters) {
        val den = edges
          .join(scores.select(col("id").as("a"), col("p").as("pa")), Seq("a"))
          .join(scores.select(col("id").as("b"), col("p").as("pb")), Seq("b"))
          .groupBy(col("id"))
          .agg(sum(floor(lit(Num) / (col("pa") + col("pb")))).as("den"))
        // each round references the previous scores THREE times (both join
        // sides of den + p_prev) — without a per-round store the plan
        // tree grows 3^iters and re-executes every prior round per reference
        // (the PageRank pattern, PageRank.scala:28)
        scores = Stored.once(base
          .join(den, Seq("id"))
          .join(scores.select(col("id"), col("p").as("p_prev")), Seq("id"))
          .select(col("id"),
            least(greatest(
              // DECIMAL numerator + DIV (IntegralDivide): exact floor for
              // EVERY n_wins — (n_wins+1)*1e12 as a long multiply would
              // overflow at n_wins ≳ 9.2e6, and as a double division the
              // floor drifts once the numerator passes 2^52 (n_wins ≳ 4.5e3)
              expr(s"CAST(n_wins + 1 AS DECIMAL(24,0)) * $Num" +
                s" DIV (den + ($Num DIV (p_prev + $Unit6)))"),
              lit(PMin)), lit(PMax)).as("p")))
      }
      Stored.now(base.join(scores, Seq("id"))
        .select(col("id"), col("n_wins"), col("n_pairs"),
          col("p").cast("long").as("score_micros")))
    }
    ranked.orderBy(col("id"))
  }
}
