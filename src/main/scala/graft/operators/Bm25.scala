package graft.operators

import graft.Stored
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * BM25 relevance scoring of a corpus against a bag of query terms — the
 * standard lexical ranking the reference delegates to OpenSearch
 * (reference: transforms/query.py executes remote retrieval; this is the
 * engine-native equivalent so rerank/eval pipelines run without a server).
 *
 * Scale shape: corpus statistics (N, Σdl, per-term document frequency) come
 * out of ONE aggregation pass, ride back as a broadcast single row, and the
 * score itself is a pure per-row expression — two corpus scans total, no
 * shuffle keyed on text, no inverted index needed for a fixed query bag.
 */
object Bm25 {

  def score(df: DataFrame, id: String, text: String, terms: Seq[String],
            k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = split(trim(lower(col(text))), "\\s+")
    val base = df.select(col(id), toks.as("_toks"), size(toks).as("_dl"))
    val statAggs = Seq(count(lit(1)).as("_n"), sum(col("_dl")).as("_sumdl")) ++
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("_toks"), t), 1L).otherwise(0L)).as(s"_df$i")
      }
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val withStats = base.crossJoin(broadcast(stats))
    val n = col("_n").cast("double")
    val avgdl = col("_sumdl").cast("double") / n
    val score = terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("_toks"), x => x === t)).cast("double")
      val dfT = col(s"_df$i").cast("double")
      // Robertson-Sparck Jones idf in the "+1" (non-negative) form
      val idf = log(lit(1.0) + (n - dfT + 0.5) / (dfT + 0.5))
      idf * tf * lit(k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("_dl").cast("double") / avgdl))
    }.reduce(_ + _)
    withStats.select(col(id), score.as("bm25"))
  }

  /**
   * One-pass MULTI-query BM25: `terms` is a (queryCol, termCol) DataFrame
   * (an eval set is typically 1k-10k queries x a few terms — broadcastable),
   * and the corpus is scanned a CONSTANT number of times regardless of the
   * query count, instead of once per query:
   *
   *   - per-term document frequency comes out of ONE explode+join+aggregate
   *     (tokens explode, broadcast-semi-join against the distinct term
   *     vocabulary, groupBy (doc, term) count — only matching tokens survive
   *     the join, so the shuffle carries |matches| rows, not |tokens|);
   *   - corpus stats (N, sum dl) from one aggregate, broadcast back;
   *   - per-(query, doc) scores by broadcast-joining the query->term table
   *     onto the sparse (doc, term, tf) frame and summing contributions.
   *
   * The result is SPARSE: only (query, doc) pairs where the doc matches at
   * least one query term appear (absent pairs score exactly 0 under BM25).
   * `padTo > 0` additionally emits score-0 rows for the `padTo` smallest
   * ids per query, so a per-query top-k (score desc, id asc) over the
   * result equals the dense formulation's top-k even for queries matching
   * fewer than k documents — the pad rows ride the SAME aggregation (a
   * matched pair just sums an extra +0.0), so no dedup join is needed.
   */
  def scoreMany(df: DataFrame, id: String, text: String, terms: DataFrame,
                queryCol: String = "query_id", termCol: String = "term",
                k1: Double = 1.2, b: Double = 0.75, padTo: Int = 0): DataFrame = {
    val toks = split(trim(lower(col(text))), "\\s+")
    val base = df.select(col(id), toks.as("_toks"), size(toks).as("_dl"))
    val stats = base.agg(count(lit(1)).cast("double").as("_n"),
      sum(col("_dl")).cast("double").as("_sumdl"))
    val dterms = terms.select(col(termCol).as("_t")).distinct()
    // tf feeds BOTH the per-term df rollup and the score join — without
    // the store each reference re-tokenizes the whole corpus (the stored
    // frame is sparse: one row per matching (doc, term), not per token)
    val tf = Stored.once(base
      .select(col(id), col("_dl"), explode(col("_toks")).as("_t"))
      .join(broadcast(dterms), "_t")
      .groupBy(col(id), col("_dl"), col("_t"))
      .agg(count(lit(1)).cast("double").as("_tf")))
    val dfT = tf.groupBy(col("_t")).agg(count(lit(1)).cast("double").as("_df"))
    val n = col("_n")
    val avgdl = col("_sumdl") / n
    val idf = log(lit(1.0) + (n - col("_df") + 0.5) / (col("_df") + 0.5))
    val contrib = idf * col("_tf") * lit(k1 + 1.0) /
      (col("_tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("_dl").cast("double") / avgdl))
    val contribRows = tf
      .join(broadcast(dfT), "_t")
      .crossJoin(broadcast(stats))
      .join(broadcast(terms.select(col(queryCol), col(termCol).as("_t"))), "_t")
      .select(col(queryCol), col(id), col("_t"), contrib.as("_c"))
    val allRows =
      if (padTo <= 0) contribRows
      else {
        val padIds = df.select(col(id)).orderBy(col(id)).limit(padTo)
        val queries = terms.select(col(queryCol)).distinct()
        // "" sorts before any real token, so pads fold first (+0.0 exactly)
        val pad = broadcast(queries).crossJoin(padIds)
          .select(col(queryCol), col(id), lit("").as("_t"), lit(0.0).as("_c"))
        contribRows.unionByName(pad)
      }
    // deterministic float sum: fold contributions in term order (a plain
    // sum() accumulates in partition arrival order — a score landing on a
    // round(.,6) boundary could flip top-k tie-breaks between runs)
    allRows.groupBy(col(queryCol), col(id))
      .agg(aggregate(
        sort_array(collect_list(struct(col("_t"), col("_c")))),
        lit(0.0),
        (acc, s) => acc + s("_c")).as("bm25"))
  }
}
