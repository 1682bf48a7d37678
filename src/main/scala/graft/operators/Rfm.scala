package graft.operators

import graft.Stored
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * RFM customer scoring (Hughes 1994 — the marketing-analytics staple):
 * per entity, Recency (time units since last activity, lower = better),
 * Frequency (activity count) and Monetary (exact integer value sum),
 * each quantized to 1..nBins by EXACT global rank position — the same
 * two-phase prefix-sum machinery as rankBins, never a one-partition
 * NTILE window and never approximate percentile breakpoints (ties break
 * on the entity id, so scores are deterministic and cross-engine
 * replayable).
 *
 * Score orientation is the RFM convention: nBins = best. Recency ranks
 * DESCENDING (most recent activity ⇒ highest score); frequency and
 * monetary rank ascending.
 *
 * Shape: one aggregate over the activity table, then three global ranks
 * over the ENTITY table (customer-sized, orders of magnitude under the
 * activity feed) — at 100 TB the heavy input is touched once.
 */
object Rfm {

  /** (entity, recency, frequency, monetary_cents, r_score, f_score,
    * m_score, rfm), entity-ordered. `ts` must be integer time; `asOf` the
    * reference instant in the same unit; `valueCents` integer money. */
  def scores(df: DataFrame, entityCol: String, ts: Column,
             valueCents: Column, asOf: Long, nBins: Int = 5): DataFrame = {
    val base = Stored.cached(df.groupBy(col(entityCol).as("entity"))
      .agg((lit(asOf) - max(ts)).as("recency"),
        count(lit(1)).as("frequency"),
        sum(valueCents).as("monetary_cents")))
    val scored = Seq[(Column, String)](
      (col("recency").desc, "r_score"),
      (col("frequency"), "f_score"),
      (col("monetary_cents"), "m_score"))
      .foldLeft(base) { case (d, (o, name)) =>
        Packing.rankBins(d, Seq(o), "entity", nBins, "_b")
          .withColumn(name, (col("_b") + 1).cast("long")).drop("_b")
      }
    scored.select(col("entity"), col("recency"), col("frequency"),
        col("monetary_cents"), col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score"), col("f_score"), col("m_score")).as("rfm"))
      .orderBy(col("entity"))
  }
}
