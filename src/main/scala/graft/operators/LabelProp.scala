package graft.operators

import graft.Stored
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Seeded min-label propagation — deterministic multi-source BFS coloring,
 * the "assign every node to its nearest labeled authority" primitive for
 * weak supervision over co-occurrence / citation / near-dup graphs (label
 * a handful of hub documents, let the graph label the rest). Seeds carry
 * int64 labels; each synchronous round a node adopts the MINIMUM label
 * among its own and its neighbors' — after r rounds a node holds the
 * smallest seed label within r hops. Ties across equidistant seeds
 * resolve to the min, so the result is partition-order independent
 * (classic async label propagation is famously nondeterministic; this
 * variant trades a little propagation speed for replayability — the same
 * reason PageRank.scala uses integer fixed-point).
 *
 * NOT connectedComponents: spread is bounded to r hops and only SEED
 * labels move — unlabeled regions stay unlabeled, and distinct seeds in
 * one component keep distinct basins (a min-label Voronoi partition).
 *
 * 100 TB shape: per round ONE equi-join of the current label table
 * against the symmetrized edge list plus a map-side-combined min
 * aggregate; the label table is node-bounded, never edge-bounded.
 * Storing the labels each round keeps the plan flat (the PageRank/kCore
 * lesson — without it round N's plan embeds rounds 1..N-1 three times
 * over). Rounds are the caller's hop budget, not a convergence loop.
 */
object LabelProp {

  /** Propagate `seeds`' labels over `edges` for `rounds` synchronous
    * rounds. Output: (node, label) for every node that holds a label —
    * seeds plus everything within `rounds` hops of one. */
  def propagate(edges: DataFrame, seeds: DataFrame, src: String, dst: String,
                id: String, label: String, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val e = edges.select(col(src).cast("long").as("_s"), col(dst).cast("long").as("_d"))
    val sym = Stored.once(e.unionAll(e.select(col("_d").as("_s"), col("_s").as("_d")))
      .where(col("_s") =!= col("_d")).distinct())
    var labels = Stored.once(seeds
      .select(col(id).cast("long").as("_v"), col(label).cast("long").as("_l"))
      .groupBy(col("_v")).agg(min(col("_l")).as("_l")))
    var i = 0
    while (i < rounds) {
      val spread = labels.join(sym, labels("_v") === sym("_s"))
        .select(col("_d").as("_v"), col("_l"))
      labels = Stored.once(labels.unionAll(spread)
        .groupBy(col("_v")).agg(min(col("_l")).as("_l")))
      i += 1
    }
    labels.select(col("_v").as("node"), col("_l").as("label"))
      .orderBy(col("node"))
  }
}
