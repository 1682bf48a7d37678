package graft.operators

import graft.Stored
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD '95) — the
 * entity-resolution candidate generator for keys too noisy for equality
 * blocking: globally sort records by a blocking key and emit every pair
 * within a sliding window of `w` sort positions. Complements
 * [[FuzzyJoin]] (which needs token overlap to surface a candidate): SNM
 * catches near-sorted-key matches — typos late in the string,
 * prefix-stable names — with a HARD O(n·w) candidate bound regardless of
 * key skew (equality blocking explodes on a hot key; SNM cannot).
 *
 * 100 TB shape: the global sort position is Packing.globalRank's
 * range-partition + two-phase prefix sum — never a single-partition
 * window. Window pairs are `w` equi-joins on rank+δ (δ = 1..w), each
 * hash-co-partitioned on the rank value — no range-condition nested
 * loop, no self cross join; the ranked table is checkpointed once and
 * reused by all δ. Candidates then feed an exact verifier (field
 * compare / FuzzyJoin verify), as in every blocking pipeline.
 */
object Blocking {

  /** Candidate pairs whose sort positions under `key` differ by ≤ `window`.
    * Output: (id_a, id_b, key_a, key_b, dist) with id_a the earlier rank. */
  def sortedNeighborhood(df: DataFrame, id: String, key: Column,
                         window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val keyed = df.select(col(id).as("_id"), key.as("_key"))
    val ranked = Stored.once(Packing.globalRank(keyed, Seq(col("_key")), "_id", "rank0")
      .select(col("_id"), col("_key"), col("rank0")))
    (1 to window).map { d =>
      ranked.as("x").join(ranked.as("y"),
          col("x.rank0") + d === col("y.rank0"))
        .select(col("x._id").as("id_a"), col("y._id").as("id_b"),
          col("x._key").as("key_a"), col("y._key").as("key_b"),
          lit(d.toLong).as("dist"))
    }.reduce(_ unionAll _)
      .orderBy(col("id_a"), col("id_b"))
  }
}
