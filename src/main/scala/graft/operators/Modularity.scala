package graft.operators

import graft.Stored
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Newman modularity of a community assignment, in EXACT integer
 * arithmetic: Q = Σ_c [e_c/m − (d_c/2m)²] is never computed as floats —
 * each community row carries its numerator contribution
 * q_num_c = 4·m·e_c − d_c², so Q = Σ q_num_c / (4m²) is a single exact
 * division the consumer applies (or reads as milli via DIV). All
 * arithmetic runs in decimal(38,0): 4m·e_c and d_c² stay exact past the
 * int64 line (m up to ~10¹⁸ edges), where double mantissas corrupt the
 * low bits exactly where community differences live.
 *
 * Inputs: canonical undirected edges (a < b, no self-loops) and a total
 * node→label assignment (pair with LabelProp/kmeans output; unassigned
 * nodes should be pre-coalesced to singleton labels by the caller).
 * Shape: two label joins over the edge list + one degree rollup — linear,
 * label tables vertex-sized.
 */
object Modularity {

  /** Per-community exact stats: (label, n_nodes, intra_edges, degree_sum,
    * q_num) with q_num = 4·m·e_c − d_c² as decimal(38,0), label-ordered. */
  def of(edges: DataFrame, aCol: String, bCol: String,
         labels: DataFrame, nodeCol: String, labelCol: String): DataFrame = {
    val e = Stored.cached(edges.select(col(aCol).as("_a"), col(bCol).as("_b")))
    val m = e.count()
    val lab = Stored.cached(labels.select(col(nodeCol).as("_v"), col(labelCol).as("_l")))

    val labeled = e
      .join(lab.select(col("_v").as("_a"), col("_l").as("_la")), "_a")
      .join(lab.select(col("_v").as("_b"), col("_l").as("_lb")), "_b")
    val intra = labeled.where(col("_la") === col("_lb"))
      .groupBy(col("_la").as("_l")).agg(count(lit(1)).as("intra_edges"))
    val deg = e.select(col("_a").as("_v")).unionAll(e.select(col("_b").as("_v")))
      .groupBy(col("_v")).agg(count(lit(1)).as("_deg"))
    val dsum = lab.join(deg, "_v", "left")
      .groupBy(col("_l"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("_deg"), lit(0L))).as("degree_sum"))

    val dec = "decimal(38,0)"
    dsum.join(intra, Seq("_l"), "left")
      .select(col("_l").as("label"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        (lit(4L).cast(dec) * lit(m).cast(dec)
          * coalesce(col("intra_edges"), lit(0L)).cast(dec)
          - col("degree_sum").cast(dec) * col("degree_sum").cast(dec))
          .cast(dec).as("q_num"))
      .orderBy(col("label"))
  }
}
