package graft.operators

import graft.Stored
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Triangle counting over an undirected edge list — with PageRank and
 * connected components, the third classic large-graph benchmark (cluster
 * cohesion of near-dup groups, community density of co-occurrence graphs).
 *
 * "Compact-forward" formulation (Latapy 2008; Suri & Vassilvitskii WWW'11
 * use the same degree-orientation for MapReduce): orient every edge from
 * its lower to its higher endpoint under the TOTAL order (degree, id),
 * enumerate wedges at the source vertex, close them against an oriented
 * edge. Each triangle x ≺ y ≺ z is produced exactly once.
 *
 * Why degree-then-id and not plain id: wedge expansion is
 * Σ_v C(outdeg(v), 2), and id-orientation leaves a low-id hub with
 * out-degree = its full degree — a single star hub of degree h yields
 * C(h, 2) wedges (quadratic in the hub). Under degree orientation a
 * vertex's out-neighbors are only those HIGHER in degree order, which
 * bounds Σ C(outdeg, 2) by O(E^1.5) on any graph (out-degree ≤ √(2E) for
 * every vertex: a vertex with out-degree k has k neighbors of degree ≥ k,
 * so E ≥ k²/2) — the star's wedges drop to ZERO because every leaf points
 * at the hub and the hub points nowhere. TrianglesSpec asserts both
 * counts on an adversarial star. All exchanges carry vertex-id pairs plus
 * one long degree — never payload.
 */
object Triangles {

  /** Total triangle count (one row: n_triangles). */
  def count(edges: DataFrame, src: String, dst: String): DataFrame =
    enumerate(edges, src, dst).agg(
      org.apache.spark.sql.functions.count(lit(1)).as("n_triangles"))

  /** Canonical undirected edge list: (a, b) with a < b, self-loops and
    * duplicates dropped. Shared by every entry point so orientation and
    * degree computation agree on the same edge set. */
  private[graft] def canonical(edges: DataFrame, src: String, dst: String): DataFrame =
    edges
      .select(least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .where(col("a") =!= col("b")) // drop self-loops
      .distinct()

  /** Degree of every vertex of a canonical edge list, as (_v, _d). */
  private[graft] def degrees(e: DataFrame): DataFrame =
    e.select(col("a").as("_v")).unionAll(e.select(col("b").as("_v")))
      .groupBy(col("_v"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("_d"))

  /** Orient a canonical edge list under (degree, id) given a precomputed
    * (_v, _d) degree frame — callers that already have degrees (the
    * clustering coefficient) pass them in so the plan carries exactly one
    * degree aggregate (Round5Spec asserts this plan contains none when deg
    * is checkpointed). NOT checkpointed here; callers checkpoint the
    * result before the 3-way self-join of enumerate. */
  private[graft] def orientFrom(e: DataFrame, deg: DataFrame): DataFrame =
    // a < b by construction, so da <= db orients ties by id for free
    e.join(deg.select(col("_v").as("a"), col("_d").as("_da")), Seq("a"))
      .join(deg.select(col("_v").as("b"), col("_d").as("_db")), Seq("b"))
      .select(
        when(col("_da") <= col("_db"), col("a")).otherwise(col("b")).as("u"),
        when(col("_da") <= col("_db"), col("b")).otherwise(col("a")).as("w"),
        when(col("_da") <= col("_db"), col("_db")).otherwise(col("_da")).as("dw"))

  /** Oriented edge list (u, w, dw): u → w with u strictly lower than w in
    * (degree, id) order; dw = degree of w, carried so the wedge join can
    * compare out-neighbors in the same order without another degree join.
    * Checkpointed once — it feeds all three join branches of enumerate,
    * and the upstream edge derivation can be an arbitrary pipeline. */
  private[graft] def oriented(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = canonical(edges, src, dst)
    Stored.now(orientFrom(e, degrees(e)))
  }

  /** Per-vertex local clustering coefficient: closed wedges at v over
    * C(deg(v), 2) — how clique-like each vertex's neighborhood is (the
    * third classic graph metric after PageRank and components; in corpus
    * work it separates hub-like boilerplate clusters from organic
    * near-dup neighborhoods). Output: (node, degree, n_triangles, coeff),
    * coeff = 0 for degree < 2, round(2·t / (d·(d−1)), 6) otherwise —
    * a ratio of exact integers, so it cross-engine hash-matches.
    * Isolated vertices cannot exist in an edge list; every vertex of the
    * input appears in the output. One triangle pass + one degree
    * aggregate; the explode carries (vertex, 1) rows only.
    *
    * The degree table is computed ONCE: canonical edges are checkpointed,
    * degrees are aggregated from them and checkpointed (one tiny
    * (vertex, long) frame), and that same frame feeds both the edge
    * orientation (via orientFrom — no re-aggregation inside enumerate)
    * and the final coefficient join. Round5Spec asserts the executed
    * plans carry no second degree aggregate. */
  def clusteringCoefficient(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = Stored.now(canonical(edges, src, dst))
    val deg = Stored.now(degrees(e))
    val triPerVertex = enumerateOriented(Stored.now(orientFrom(e, deg)))
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_triangles"))
    deg.select(col("_v").as("node"), col("_d").as("degree"))
      .join(triPerVertex, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") < 2, lit(0.0))
          .otherwise(graft.functions.gf.roundHalfUp(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)), 6)).as("coeff"))
  }

  /** Bounded-round k-core peel (Seidman 1983 cores; the distributed peel
    * is Montresor et al. 2013's message-passing formulation as dataframe
    * rounds): repeat `rounds` times — degree-count, keep vertices with
    * degree ≥ k, restrict edges to kept endpoints. Monotone, so once the
    * peel converges further rounds are no-ops; with `rounds` ≥ the true
    * peel depth the output IS the exact k-core (degeneracy ordering needs
    * unbounded rounds; a fixed bound keeps the cross-engine oracle a
    * finite CTE chain, the PageRank pattern). Output: (node, degree) of
    * the surviving subgraph, id-ordered.
    *
    * 100 TB shape: per round one map-side-combined degree aggregate over
    * the current edge list plus two semi-joins against the (small,
    * AQE-broadcast) keep set; edges are stored each round so
    * the plan stays flat instead of growing 3 joins deep per round. The
    * edge list only ever shrinks. */
  def kCore(edges: DataFrame, src: String, dst: String, k: Int, rounds: Int): DataFrame =
    degrees(kCoreEdges(edges, src, dst, k, rounds))
      .select(col("_v").as("node"), col("_d").as("degree"))
      .orderBy(col("node"))

  /** The peeled EDGE set after `rounds` k-core rounds, canonical (a < b) —
    * exposed so compositions can chain on the core SUBGRAPH (triangle
    * census, components, modularity over the core) rather than just the
    * node/degree view `kCore` returns. */
  def kCoreEdges(edges: DataFrame, src: String, dst: String, k: Int,
                 rounds: Int): DataFrame = {
    var e = Stored.once(canonical(edges, src, dst))
    var i = 0
    while (i < rounds) {
      val keep = degrees(e).where(col("_d") >= k)
      e = Stored.once(e.join(keep.select(col("_v").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("_v").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")))
      i += 1
    }
    e
  }

  /** Bounded-round k-truss peel (Cohen 2008 "Trusses: cohesive subgraphs
    * for social network analysis"): repeat `rounds` times — count each
    * edge's SUPPORT (triangles it closes in the current subgraph), keep
    * edges with support ≥ k−2, restrict. The edge-level sibling of kCore
    * (which peels vertices by degree): a k-truss is the maximal subgraph
    * where every edge participates in ≥ k−2 triangles, a strictly
    * stronger cohesion notion than the k-core it is always contained in.
    * Monotone peel, so with `rounds` ≥ the true depth the output IS the
    * exact truss; the fixed bound keeps the cross-engine oracle a finite
    * CTE chain (the kCore/PageRank pattern). Output: surviving edges
    * (a, b, support) with the FINAL subgraph's support, (a, b)-ordered.
    *
    * 100 TB shape: each round is one degree-oriented triangle enumeration
    * (the O(E^1.5)-wedge compact-forward pass — same machinery as
    * `count`) + an edge-keyed count + a semi-join; the edge list only
    * ever shrinks, and each round's frame is checkpointed so the plan
    * stays flat instead of growing a triangle join deeper per round. */
  def kTruss(edges: DataFrame, src: String, dst: String, k: Int,
             rounds: Int): DataFrame = {
    require(k >= 2, "k-truss needs k >= 2")
    def support(e: DataFrame): DataFrame =
      enumerateOriented(Stored.once(orientFrom(e, degrees(e))))
        .select(explode(array(
          struct(col("a").as("a"), col("b").as("b")),
          struct(col("a").as("a"), col("c").as("b")),
          struct(col("b").as("a"), col("c").as("b")))).as("_e"))
        .select(col("_e.a").as("a"), col("_e.b").as("b"))
        .groupBy(col("a"), col("b"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("support"))
    var e = Stored.once(canonical(edges, src, dst))
    var i = 0
    while (i < rounds) {
      // left join, not semi: triangle-free edges are ABSENT from the
      // support frame and must still survive when k-2 == 0 (a 2-truss
      // retains every edge by definition)
      e = Stored.once(e.join(support(e), Seq("a", "b"), "left")
        .where(coalesce(col("support"), lit(0L)) >= k - 2)
        .select(col("a"), col("b")))
      i += 1
    }
    e.join(support(e), Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("support"), lit(0L)).as("support"))
      .orderBy(col("a"), col("b"))
  }

  /** One row per triangle (a < b < c, id order). */
  def enumerate(edges: DataFrame, src: String, dst: String): DataFrame =
    enumerateOriented(oriented(edges, src, dst))

  /** Triangle enumeration over an already-oriented (u, w, dw) edge list.
    *
    * Both joins carry an explicit MERGE hint (r20): graph joins are the
    * case where size statistics systematically mislead the planner — the
    * map-side output is a slim (id, id, long) list, but the join output is
    * wedge-expanded (O(E^1.5) bound), so AQE's per-partition size check
    * happily converts the SMJ to a shuffled-hash join whose BUILD side
    * cannot spill. The r20 memory probe pinned the failure: at K=25 under
    * a 2 GiB heap the hash build dies with UNABLE_TO_ACQUIRE_MEMORY while
    * the hinted sort-merge path completes with ~15 GB of clean spill and
    * an identical checksum. Sort-merge degrades to disk; a hash build
    * degrades to a stage failure — at 100 TB only the first is acceptable. */
  private[graft] def enumerateOriented(o: DataFrame): DataFrame = {
    // wedges (x→y, x→z) with y ≺ z in (degree, id) order: the closing edge
    // of a real triangle is then oriented y→z, matched by equality below
    val wedges = o.as("e1").join(o.as("e2").hint("merge"),
        col("e1.u") === col("e2.u") &&
          (col("e1.dw") < col("e2.dw") ||
            (col("e1.dw") === col("e2.dw") && col("e1.w") < col("e2.w"))))
      .select(col("e1.w").as("_y"), col("e2.w").as("_z"), col("e1.u").as("_x"))
    wedges.join(o.as("e3").hint("merge"),
        col("_y") === col("e3.u") && col("_z") === col("e3.w"))
      .select(sort_array(array(col("_x"), col("_y"), col("_z"))).as("_t"))
      .select(col("_t").getItem(0).as("a"), col("_t").getItem(1).as("b"),
        col("_t").getItem(2).as("c"))
  }
}
