package graft.operators

import graft.Stored
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Rank-fusion for hybrid retrieval — the engine-native version of what the
 * reference delegates to OpenSearch hybrid queries (reference query
 * pipelines score lexically AND by knn vector, then fuse server-side;
 * here both rankings come from engine operators: Bm25.score, Ann top-k /
 * cosine, rerank scores, quality priors).
 *
 * Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
 * rrf(d) = sum_i 1 / (k + rank_i(d)), rank 1-based; documents absent from a
 * ranking contribute nothing for it. k=60 is the paper's constant.
 *
 * Determinism: ranks are exact integers from a deterministic total order
 * (score desc, id asc) computed by Packing.globalRank's two-phase prefix
 * rank — the corpus never funnels through a single-partition window. The
 * fused score is a fixed-length left-to-right sum of exactly-rounded
 * divisions, so it cross-engine hash-matches.
 *
 * 100 TB shape: each ranking costs one range-partitioned sort of (id,
 * score) pairs — never document text — plus a bounded per-partition-counts
 * collect; the fusion itself is an id-keyed outer join of the rank tables.
 *
 * Each ranking is projected to (id, score) and stored BEFORE ranking:
 * globalRank's repartitionByRange evaluates its child TWICE (once for the
 * RangePartitioner's reservoir sample, once for the exchange), and a ranking's scoring plan is typically the expensive part
 * (BM25 tokenizes the corpus, cosine folds over every embedding). The
 * stored copy runs that plan exactly once and both evaluations read the
 * narrow two-column blocks — measured 3.2× on the sf0.1 hybrid-retrieval
 * gate (q_rrf_fusion 9.2 s -> 2.8 s one-shot at its bench position).
 * NOTE: constructing the fused frame is NOT free — globalRank's two-phase
 * rank collects per-partition counts at construction (Packing.scala
 * rankedStage), which fills each stored ranking once. Callers building
 * rrf frames speculatively should construct lazily themselves.
 */
object Fusion {

  /** Grouped reciprocal-rank fusion: `rankings` carry a query column and
    * ranks are computed WITHIN each query — the multi-query form every
    * hybrid-search evaluation runs (one fused list per query). Rank order
    * inside each arm is (score desc, id) — round scores BEFORE calling if
    * they come from float math, so rank is a function of cross-engine-equal
    * values. Per-query windows partition on the query column; the full
    * outer join unions each query's arm lists. */
  def rrfBy(rankings: Seq[DataFrame], query: String, id: String, score: String,
            k: Int = 60, outCol: String = "rrf"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rankings.nonEmpty, "rrf needs at least one ranking")
    require(k >= 0, s"rrf k must be non-negative, got $k")
    val ranked = rankings.zipWithIndex.map { case (r, i) =>
      val w = Window.partitionBy(col(query)).orderBy(col("_s").desc, col(id))
      r.select(col(query), col(id), col(score).as("_s"))
        .withColumn(s"_rn$i", row_number().over(w).cast("long"))
        .select(col(query), col(id),
          (lit(1.0) / (lit(k.toDouble) + col(s"_rn$i"))).as(s"_rrf$i"))
    }
    val joined = ranked.reduce((a, b) => a.join(b, Seq(query, id), "full"))
    val total = ranked.indices.map(i => coalesce(col(s"_rrf$i"), lit(0.0))).reduce(_ + _)
    joined.select(col(query), col(id), total.as(outCol))
  }

  def rrf(rankings: Seq[DataFrame], id: String, score: String,
          k: Int = 60, outCol: String = "rrf"): DataFrame = {
    require(rankings.nonEmpty, "rrf needs at least one ranking")
    require(k >= 0, s"rrf k must be non-negative, got $k")
    val ranked = rankings.zipWithIndex.map { case (r, i) =>
      Packing.globalRank(
          Stored.once(r.select(col(id), col(score).as("_s"))),
          Seq(col("_s").desc), id, s"_r$i")
        .select(col(id), (lit(1.0) / (lit(k.toDouble) + col(s"_r$i") + lit(1.0)))
          .as(s"_rrf$i"))
    }
    val joined = ranked.reduce((a, b) => a.join(b, Seq(id), "full"))
    val total = ranked.indices.map(i => coalesce(col(s"_rrf$i"), lit(0.0))).reduce(_ + _)
    joined.select(col(id), total.as(outCol))
  }

  /**
   * Maximal-marginal-relevance diversification (Carbonell & Goldstein,
   * SIGIR 1998): greedily pick k results maximizing
   * lambda * rel(d) - (1 - lambda) * max cosine(d, already-picked).
   *
   * The greedy step is inherently sequential, so the distributed part is
   * candidate SELECTION: a TakeOrderedAndProject top-`candidates` by
   * relevance (never a full sort), after which the bounded candidate set
   * (default 100 vectors) diversifies on the driver — the same
   * collect-limited contract as summarize_data. Ties in relevance and in
   * marginal score break by id, so selection is deterministic.
   *
   * Returns the k picks with their selection order (`mmr_rank`, 1-based).
   */
  def mmr(df: DataFrame, id: String, vec: String, rel: String, k: Int,
          lambda: Double = 0.7, candidates: Int = 100): DataFrame = {
    require(k > 0 && candidates >= k, s"need candidates >= k > 0, got k=$k, candidates=$candidates")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    val spark = df.sparkSession
    val idType = df.schema(id).dataType
    // original id value kept for the output schema; a string rendering is
    // carried alongside purely as the deterministic tie-break key
    val cand = df
      .select(col(id).as("_id"), col(id).cast("string").as("_idstr"),
        col(vec).cast("array<double>").as("_v"), col(rel).cast("double").as("_rel"))
      .orderBy(desc("_rel"), col("_idstr"))
      .limit(candidates)
      .collect()
      .map(r => (r.get(0), r.getString(1), r.getSeq[Double](2).toArray, r.getDouble(3)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length && i < b.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    val picked = scala.collection.mutable.ArrayBuffer[(Any, String, Array[Double], Double)]()
    val pool = scala.collection.mutable.ArrayBuffer(cand: _*)
    while (picked.size < k && pool.nonEmpty) {
      val scored = pool.map { case (_, pidStr, v, r) =>
        val maxSim =
          if (picked.isEmpty) 0.0 else picked.iterator.map(p => cos(v, p._3)).max
        (lambda * r - (1.0 - lambda) * maxSim, pidStr)
      }
      val bestIdx = scored.indices.minBy(i => (-scored(i)._1, scored(i)._2))
      picked += pool.remove(bestIdx)
    }
    // preserve the caller's id type: a cast-to-string id would silently
    // break type-safe joins back to the source frame
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(id, idType),
      org.apache.spark.sql.types.StructField(rel, org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("mmr_rank", org.apache.spark.sql.types.LongType)))
    val rows = picked.zipWithIndex.map { case ((pid, _, _, r), i) =>
      org.apache.spark.sql.Row(pid, r, (i + 1).toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }
}
