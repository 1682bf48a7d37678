package graft.operators

import graft.Stored
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.gf

/**
 * Bigram-LM fluency scoring from self-trained corpus statistics — the
 * order-2 sibling of [[UnigramLm]] (CCNet's perplexity filter uses a
 * 5-gram KenLM; a bigram model already separates shuffled/boilerplate
 * text from fluent text, which unigram statistics cannot see at all:
 * a word-salad permutation has IDENTICAL unigram stats).
 *
 * Per document:
 *  - `n_bigrams`   — adjacent-token pair instances (len-1 per doc);
 *  - `mean_bits`   — mean integer bits-of-surprise per bigram instance,
 *                    floor(log2 c(w1·)) - floor(log2 c(w1 w2)) averaged
 *                    over instances: the conditional surprisal
 *                    -log2 p(w2|w1) within 1 bit, in pure integer math
 *                    (see UnigramLm for why a real log cannot
 *                    cross-engine hash-match);
 *  - `novel_frac`  — fraction of instances whose bigram occurs nowhere
 *                    else in the corpus (high = incoherent or unique).
 *
 * 100 TB shape, mirroring UnigramLm: one corpus scan — bigrams come from
 * the single-pass wordShingles expression, aggregate to (doc, bigram)
 * with map-side combine BEFORE any shuffle; the bigram vocabulary and the
 * left-context totals both derive from that table (no second corpus
 * scan); after the first aggregation only (bigram, counts) pairs move,
 * and AQE broadcasts the vocab side of the join when it fits. Context
 * counts c(w1·) sum bigram counts by first token — a map-side-combining
 * aggregate, never a window (the TfIdf hot-key lesson: "the ..." would
 * otherwise funnel through one task).
 */
object BigramLm {

  def score(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // a valid bigram shingle contains exactly one space; wordShingles'
    // short-text fallback (a 1-token doc yields its lone token) is
    // filtered out by requiring the separator
    val bigrams = df
      .select(col(idCol), explode(gf.wordShingles(col(textCol), 2)).as("bg"))
      .where(col("bg").contains(" ") && !col("bg").startsWith(" "))
    // bf feeds both the vocabulary rollup and the scoring join; vocab
    // feeds both the context rollup and the join — persist both so the
    // shingle explode and aggregates run once (the final sort's sampling
    // pass re-executes consumers a second time otherwise)
    val bf = Stored.cached(bigrams.groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("bf")))
    val vocab = Stored.cached(bf.groupBy(col("bg")).agg(sum(col("bf")).as("c2")))
    val ctx = vocab
      .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("c2")).as("c1"))

    val bits = (length(bin(col("c1"))) - length(bin(col("c2")))).cast("long")
    val per = bf
      .join(vocab, "bg")
      .join(ctx, substring_index(col("bg"), " ", 1) === col("w1"))
      .groupBy(col(idCol))
      .agg(
        sum(col("bf")).as("n_bigrams"),
        graft.functions.gf.roundHalfUp(sum(col("bf") * bits).cast("double") / sum(col("bf")), 6).as("mean_bits"),
        graft.functions.gf.roundHalfUp(sum(when(col("c2") === 1, col("bf")).otherwise(lit(0))).cast("double")
          / sum(col("bf")), 6).as("novel_frac"))

    // left join keeps sub-2-token documents (null score) so the output is
    // total over the input corpus; persist before the sort so its sampling
    // pass reads the cache instead of re-scoring
    Stored.cached(df.select(col(idCol))
      .join(per, Seq(idCol), "left"))
      .orderBy(col(idCol))
  }
}
