package graft.operators

import graft.Stored
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.gf

/**
 * TF-IDF top terms per document — keyword extraction over a corpus, the
 * relational sibling of `DocSet.termFrequency` (reference:
 * transforms/term_frequency.py computes per-doc counts only; corpus-level
 * IDF weighting is part of our training-data surface, SURVEY §2.12).
 *
 * Scale shape: ONE corpus scan — the (doc, term) tf aggregate is
 * stored once (the shared-subtree idiom from Packing/Basket:
 * without it, column pruning specializes the tf subtree per consumer and
 * the scan+explode runs once per branch), then document frequency is
 * `tf.groupBy(term).count()` joined back on term, then the per-doc top-k
 * window (which Spark compiles to partial+final WindowGroupLimit — no
 * full per-doc sort materializes more than k+ rows).
 *
 * df is deliberately an AGGREGATE + JOIN, not a term-partitioned window
 * count (an earlier formulation): a window routes every (doc, term) row
 * of a term into ONE task and no optimizer can split it — for a
 * stop-word-like term present in every document that task is
 * corpus-sized at 100 TB. The aggregate collapses the hot term
 * per-partition (map-side combine) so the df table is one tiny row per
 * term, and the join back is a shuffle AQE's OptimizeSkewedJoin CAN
 * split, because join semantics (unlike window semantics) allow
 * replicating the small side's matching rows across sub-partitions.
 * Same shuffle count as the window form; no single-task funnel.
 * Shuffles key on (doc_id, term) / term / doc_id; corpus text never
 * rides a shuffle key. The doc count N joins in as a broadcast
 * single-row aggregate over a zero-column scan (row count from parquet
 * metadata).
 *
 * IDF here is the UNLOGGED Sparck Jones form (N+1)/(df+1): division and
 * multiplication are exactly-rounded IEEE ops, so scores are bit-identical
 * across engines — `ln` is libm-dependent and can flip near-tie ranks
 * between Spark and an oracle. With k-th-vs-(k+1)-th ties broken by term,
 * the top-k set is fully deterministic.
 */
object TfIdf {

  /** Per-document top-k terms by tf*idf. Output: (id, term, tf, df, score),
    * ranked per doc by (score desc, term asc), rank <= k. */
  def topTerms(df: DataFrame, id: String, text: String, k: Int): DataFrame = {
    val toks = df.select(col(id).as("_id"), explode(gf.tokens(col(text))).as("term"))
      .where(col("term") =!= "")
    // every consumer branch reads the stored two-column blocks
    val tf = Stored.once(toks.groupBy(col("_id"), col("term")).agg(count(lit(1)).as("tf")))
    // tf has one row per (doc, term): counting tf rows per term IS df.
    // Aggregate + join, NOT a window — see the scaladoc's skew rationale.
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("_n"))
    val scored = tf
      .join(dfc, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * (col("_n") + 1).cast("double") / (col("df") + 1).cast("double"))
    val w = Window.partitionBy(col("_id")).orderBy(desc("score"), asc("term"))
    scored.withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= k)
      .select(col("_id").as(id), col("term"), col("tf"), col("df"),
        graft.functions.gf.roundHalfUp(col("score"), 6).as("score"))
  }

  /**
   * Class-based TF-IDF (c-TF-IDF, Grootendorst 2022 — BERTopic's topic
   * descriptor): treat each CLASS (topic / source / language) as one
   * concatenated pseudo-document and rank the terms that characterize it
   * — the label-card generator for corpus slices. Score is
   * `tf_{t,c} · (A + 1)/(f_t + 1)` with A = mean tokens per class and
   * f_t = corpus frequency of t — the paper's `log(1 + A/f_t)` with the
   * log dropped: log is monotone, so per-class ranks are unchanged, and
   * the remaining ops (one division chain over exact integer counts) are
   * IEEE-exact cross-engine where libm `ln` is not (the topTerms
   * rationale).
   *
   * Scale: class-level tf is ONE map-side-combined aggregate (the
   * class×vocab table is tiny however big the corpus); f_t and the
   * totals fold from tf, never rescanning text; per-class top-k is a
   * WindowGroupLimit over class partitions.
   */
  def classTopTerms(df: DataFrame, cls: String, text: String, k: Int): DataFrame = {
    val toks = df.select(col(cls).as("_cls"), explode(gf.tokens(col(text))).as("term"))
      .where(col("term") =!= "")
    val tf = Stored.once(toks.groupBy(col("_cls"), col("term")).agg(count(lit(1)).as("tf")))
    val ft = tf.groupBy(col("term")).agg(sum(col("tf")).as("ft"))
    val tot = tf.agg(sum(col("tf")).as("_tt"), countDistinct(col("_cls")).as("_nc"))
    val scored = tf.join(ft, Seq("term")).crossJoin(broadcast(tot))
      .withColumn("score", col("tf").cast("double") *
        (col("_tt").cast("double") / col("_nc").cast("double") + 1.0) /
        (col("ft") + 1).cast("double"))
    val w = Window.partitionBy(col("_cls")).orderBy(desc("score"), asc("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("_cls").as(cls), col("term"), col("tf"), col("ft"),
        graft.functions.gf.roundHalfUp(col("score"), 6).as("score"), col("rank"))
      .orderBy(col(cls), col("rank"))
  }
}
