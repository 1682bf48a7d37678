package graft.operators

import graft.Stored
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/**
 * PageRank over an edge list — the classic iterative 100 TB graph workload
 * (host-graph authority for crawl prioritization, near-dup-cluster hubs),
 * expressed as a fixed number of join+aggregate rounds.
 *
 * INTEGER fixed-point scoring, not floating point: each node's score is an
 * int64 in millionths. A float PageRank cannot cross-engine hash-match —
 * per-node incoming sums add doubles in shuffle order, which differs
 * between engines (and between runs). Here every contribution is an exact
 * integer `div`, integer sums are order-free, and two engines running the
 * same rounds produce bit-identical scores. The cost is <= outdeg
 * millionths of truncation per node per round — bounded and deterministic.
 *
 * Semantics: standard damped PageRank with uniform base; dangling-node
 * mass is dropped (the common simplification — total mass shrinks, ranks
 * stay ordered). Self-loops count as ordinary edges; duplicate edges are
 * collapsed before iterating.
 *
 * Scale shape per round (r22): the edge list and node set are PERSISTED
 * once, hash-partitioned on the join keys — InMemoryTableScan preserves
 * that partitioning, so each round's contrib join streams the edge cache
 * with NO exchange and NO sort, shuffled-hash-building only the node-sized
 * scores side (the one exchange per round besides the (dst)-keyed sum, and
 * it carries (id, int64) pairs). A local checkpoint would NOT work for
 * these pins: its LogicalRDD reports UnknownPartitioning under AQE in
 * Spark 4.1, which re-exchanged the whole edge list and re-sorted both
 * sides every round (audited r22: 3 Exchange + 4 Sort per round).
 * `iterations` is a constant (default 10): the lineage is 10 joins deep,
 * so SCORES are still stored each round to keep the plan flat (the
 * iterative-algo contract, same reasoning as connectedComponents; an
 * eager store per round measured ~20% slower on the sf0.1 gate: 3.7 s
 * warm against 3.0 s lazy). The e/nodes caches are released by the caller's scope (the
 * FuzzyJoin internal-store precedent); an eager final cut that released
 * them inside the operator was measured WORSE at gate scale (q_pagerank
 * 2.75 -> 3.84 s) and rejected.
 */
object PageRank {

  private def idiv(a: Column, b: Column): Column =
    ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Scores in millionths: initial = 1_000_000 per node. */
  val Scale = 1000000L

  def pageRank(edges: DataFrame, src: String, dst: String,
               iterations: Int = 10, dampingPct: Int = 85): DataFrame =
    run(edges, src, dst, iterations, dampingPct, None)

  /**
   * Personalized PageRank: teleport mass lands ONLY on the seed set (the
   * graph-retrieval workhorse — "rank everything by proximity to these
   * query/topic nodes"). Same integer fixed-point contract as pageRank:
   * seeds start at Scale and receive the whole (100-damping)% teleport
   * share each round; non-seeds start at 0 and accumulate only walked
   * mass. Seeds ride as a broadcast literal set (query seed sets are
   * small by construction — document the contract, don't shuffle them).
   */
  def personalized(edges: DataFrame, src: String, dst: String, seeds: Seq[Any],
                   iterations: Int = 10, dampingPct: Int = 85): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs at least one seed")
    run(edges, src, dst, iterations, dampingPct, Some(seeds))
  }

  private def run(edges: DataFrame, src: String, dst: String,
                  iterations: Int, dampingPct: Int,
                  seeds: Option[Seq[Any]]): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampingPct >= 0 && dampingPct <= 100, s"dampingPct in [0,100], got $dampingPct")
    val e0 = edges.select(col(src).as("_s"), col(dst).as("_d")).distinct()
    val outdeg = e0.groupBy(col("_s")).agg(count(lit(1)).as("_deg"))
    // outdegree folds into the edge list ONCE; each round then needs a
    // single src-keyed join instead of two. Pre-partitioning by _s lets
    // every round's join reuse the layout instead of re-exchanging edges.
    // CACHED, not a checkpoint (r22): a checkpoint's LogicalRDD reports
    // UnknownPartitioning in Spark 4.1, so every round's join RE-EXCHANGED
    // the whole edge list and re-sorted both sides (audited: 3 Exchange +
    // 4 Sort per round). InMemoryTableScan preserves the cached plan's
    // hashpartitioning(_s) and size stats, so each round's contrib join
    // reads the cache exchange-free and AQE can broadcast the node-sized
    // scores side (plan dumps: plans/r22/pagerank_round_{before,after}.txt).
    val e = Stored.cached(e0.join(outdeg, Seq("_s"))
      .repartition(col("_s")))
    // stored once: every round's score refresh left-joins `nodes`, and
    // without the pin each round's job re-runs the union+distinct (two
    // exchanges) from the edge blocks. The distinct's hash(_n) partitioning
    // survives the cache, so the per-round join needs no exchange on the
    // nodes side.
    val nodes = Stored.cached(e.select(col("_s").as("_n")).union(e.select(col("_d").as("_n")))
      .distinct())
    // uniform teleport everywhere, or the whole share on the seeds only
    val isSeed = seeds.map(s => col("_n").isin(s: _*))
    val base = isSeed match {
      case None => lit((100L - dampingPct) * Scale) // divided by 100 after damping
      case Some(seed) =>
        when(seed, lit((100L - dampingPct) * Scale)).otherwise(lit(0L))
    }
    val init = isSeed match {
      case None       => lit(Scale)
      case Some(seed) => when(seed, lit(Scale)).otherwise(lit(0L))
    }
    var scores = Stored.once(nodes.select(col("_n"), init.as("_score")))
    // per-round join strategy (r22): SHUFFLE_HASH on the node-sized side.
    // Probed under the MemoryProbe 2 GiB / 8-slot cap at K=25:
    //  - r21 checkpoint shape: passes, 45.6 s, spill 3618/321 MB
    //  - persist + shuffle_hash: passes, 35.8 s, spill 3409/308 MB,
    //    checksum identical — the build side is the SCORES (node-sized,
    //    hash-spread), not a skewed candidate set, so the no-spill build
    //    holds |nodes|/partitions rows; it degraded cleanly where
    //  - persist UNHINTED dies: AQE broadcasts the scores EVERY ROUND and
    //    the accumulated broadcasts blow the cap (UNABLE_TO_ACQUIRE_MEMORY).
    // So the hint is both the fast and the memory-safe choice.
    def h(df: DataFrame): DataFrame = df.hint("shuffle_hash")
    var i = 0
    while (i < iterations) {
      val contrib = e
        .join(h(scores.withColumnRenamed("_n", "_s")), Seq("_s"))
        .select(col("_d"), idiv(col("_score"), col("_deg")).as("_c"))
        .groupBy(col("_d")).agg(sum(col("_c")).as("_in"))
      scores = Stored.once(nodes
        .join(h(contrib.withColumnRenamed("_d", "_n")), Seq("_n"), "left")
        .select(col("_n"),
          idiv(base + lit(dampingPct.toLong) * coalesce(col("_in"), lit(0L)), lit(100L))
            .as("_score")))
      i += 1
    }
    scores.select(col("_n").as("node"), col("_score").as("score"))
      .orderBy(desc("score"), col("node"))
  }
}
