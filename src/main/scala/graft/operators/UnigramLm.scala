package graft.operators

import graft.Stored
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.gf

/**
 * Perplexity-proxy quality scoring from a self-trained unigram LM — the
 * engine-side analogue of CCNet's KenLM perplexity filter (the reference has
 * no corpus-statistics scoring at all; its quality signals are all row-local).
 *
 * Per document:
 *  - `n_toks`     — token instances;
 *  - `mean_bits`  — mean integer bits-of-surprise per token,
 *                   floor(log2 N) - floor(log2 c) averaged over instances,
 *                   where c is the token's corpus count and N the corpus
 *                   token total. Within 1 bit of the true -log2 p(token)
 *                   unigram cross-entropy; high = rare-token-heavy
 *                   (gibberish, OCR noise), low = common-token text.
 *  - `rare_frac`  — fraction of instances whose token appears nowhere else
 *                   in the corpus (hapax legomena).
 *
 * Why integer bits instead of a real log: Spark's log() lowers to Java
 * Math.log and DuckDB's to C libm — not bit-identical, so a float logprob
 * cannot hash-match a cross-engine oracle (same reason TfIdf keeps its idf
 * rational). floor(log2 x) = length(bin(x)) - 1 is pure integer math on both
 * engines, every aggregate is an integer sum (order-free), and the only
 * doubles are final ratios of exactly-equal integers.
 *
 * 100 TB shape: one corpus scan -> explode -> (doc, token) partial-agg
 * (map-side combine collapses within-doc repeats before the shuffle); the
 * vocab is derived from the tf table, NOT a second corpus scan; the scalar
 * total is a one-row broadcast; the tf-vocab join keys on the token — vocab
 * is orders of magnitude smaller than the corpus and AQE broadcasts it when
 * it fits. No full-text shuffle anywhere: after the first aggregation only
 * (token, counts) pairs move.
 */
object UnigramLm {

  def score(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol), explode(gf.tokens(col(textCol))).as("tok"))
      .where(length(col("tok")) > 0)
    // the doc-term table feeds BOTH the vocabulary rollup and the scoring
    // join, and the final id-sort's range-sampling pass executes its
    // consumer chain a second time — persist the two shared tables so the
    // tokenize/explode/aggregate work runs once (MEMORY_AND_DISK spills)
    val tf = Stored.cached(toks.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf")))
    val vocab = Stored.cached(tf.groupBy(col("tok")).agg(sum(col("tf")).as("c")))
    val total = vocab.agg(sum(col("c")).as("n_total"))

    val bits = (length(bin(col("n_total"))) - length(bin(col("c")))).cast("long")
    val per = tf
      .join(vocab, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_toks"),
        graft.functions.gf.roundHalfUp(sum(col("tf") * bits).cast("double") / sum(col("tf")), 6).as("mean_bits"),
        graft.functions.gf.roundHalfUp(sum(when(col("c") === 1, col("tf")).otherwise(lit(0))).cast("double")
          / sum(col("tf")), 6).as("rare_frac"))

    // left join keeps empty/whitespace-only documents (null score) so the
    // output is total over the input corpus; persist the per-doc result so
    // the sort's sampling pass reads the cache instead of re-scoring
    Stored.cached(df.select(col(idCol))
      .join(per, Seq(idCol), "left"))
      .orderBy(col(idCol))
  }
}
