package graft.operators

import graft.Stored
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.gf

/**
 * Trigram LM scoring with STUPID BACKOFF (Brants et al. 2007, "Large
 * Language Models in Machine Translation" §4) — the order-3 member of the
 * [[UnigramLm]]/[[BigramLm]] family, and the first with a train/score
 * split so the backoff chain actually fires: counts come from a
 * deterministic training half of the corpus, every document is scored
 * against them, and trigrams unseen in training back off
 * trigram → bigram → unigram → OOV. Stupid backoff is exactly the scheme
 * the paper shows wins at distributed scale: no discounting, no
 * normalization pass over the vocabulary — score is the raw relative
 * frequency at the deepest matching order times a constant per backed-off
 * level, which keeps training a pure counting job.
 *
 * Integer-exact scoring (the UnigramLm lesson — a real log2 cannot
 * cross-engine hash-match): bits-of-surprise per trigram instance is
 * `blen(count(context)) - blen(count(ngram)) + 2·level`, where
 * `blen(x) = length(bin(x)) = floor(log2 x)+1` and the +2 bits per
 * backoff level is the integer stand-in for the paper's α=0.4 (≈ -1.3
 * bits; 2 keeps everything integral). Levels: 0 = trigram found
 * (context = train bigram w1w2), 1 = bigram w2w3 found (context =
 * train unigram w2), 2 = unigram w3 found (context = train token total
 * N), 3 = OOV (blen(N) + 4 — one bit worse than a training hapax).
 *
 * Per document: `n_trigrams` (scored instances), `mean_bits` (mean
 * surprisal per instance, 6dp), `backoff_frac` (fraction of instances
 * that needed any backoff — an out-of-domain signal: low on text that
 * looks like the training half, high on novel/garbled text).
 *
 * 100 TB shape: three counting aggregates over the training half (tri /
 * bi / uni shingles, all map-side combined before any shuffle — only
 * (ngram, count) pairs move); scoring instances aggregate to
 * (doc, trigram, tf) the same way; the backoff CASE is resolved at
 * VOCABULARY granularity (distinct trigrams, not instances) with five
 * vocab-sized left joins that AQE broadcasts when the count tables fit,
 * then ONE instance-level join carries bits back to documents. The token
 * total N rides as a broadcast single-row cross join. Nothing here is a
 * window and nothing is quadratic.
 */
object TrigramLm {

  /** `trainPred` selects the training half (deterministic, e.g.
    * `col("doc_id") % 2 === 0`); every row of `df` is scored. */
  def scoreBackoff(df: DataFrame, idCol: String, textCol: String,
                   trainPred: org.apache.spark.sql.Column): DataFrame = {
    val train = df.where(trainPred)

    // counting jobs over the training half; shingle fallbacks (short texts
    // emit one all-tokens window) are dropped by requiring the exact
    // space count for the order
    def shingleCounts(src: DataFrame, n: Int, out: String): DataFrame = src
      .select(explode(gf.wordShingles(col(textCol), n)).as("g"))
      .where(size(split(col("g"), " ", -1)) === n && !col("g").contains("  ")
        && col("g") =!= "" && !col("g").startsWith(" "))
      .groupBy(col("g")).agg(count(lit(1)).as(out))

    // count tables are joined twice (bi) / reused across the backoff
    // resolution — persist the vocab-sized tables and the doc-trigram
    // instances so each counting job runs once (the final sort's sampling
    // pass re-executes consumers a second time otherwise)
    val tri = Stored.cached(shingleCounts(train, 3, "c3"))
    val bi = Stored.cached(shingleCounts(train, 2, "cb"))
    val uni = Stored.cached(train
      .select(explode(gf.tokens(col(textCol))).as("t"))
      .where(length(col("t")) > 0)
      .groupBy(col("t")).agg(count(lit(1)).as("cu")))
    val tot = uni.agg(sum(col("cu")).as("n_total"))

    // scoring instances, aggregated before any join
    val inst = Stored.cached(df
      .select(col(idCol), explode(gf.wordShingles(col(textCol), 3)).as("tg"))
      .where(size(split(col("tg"), " ", -1)) === 3 && !col("tg").contains("  ")
        && col("tg") =!= "" && !col("tg").startsWith(" "))
      .groupBy(col(idCol), col("tg")).agg(count(lit(1)).as("tf")))

    // backoff resolution at vocabulary granularity: one row per distinct
    // scored trigram, five left joins against the (small) count tables
    def blen(c: org.apache.spark.sql.Column) = length(bin(c)).cast("long")
    val vocab = inst.select(col("tg")).distinct()
      .withColumn("w12", substring_index(col("tg"), " ", 2))
      .withColumn("w23", substring_index(col("tg"), " ", -2))
      .withColumn("w2", substring_index(substring_index(col("tg"), " ", 2), " ", -1))
      .withColumn("w3", substring_index(col("tg"), " ", -1))
    val sv = vocab
      .join(tri.withColumnRenamed("g", "tg"), Seq("tg"), "left")
      .join(bi.select(col("g").as("w12"), col("cb").as("cb_ctx")), Seq("w12"), "left")
      .join(bi.select(col("g").as("w23"), col("cb").as("cb_bo")), Seq("w23"), "left")
      .join(uni.select(col("t").as("w2"), col("cu").as("cu_ctx")), Seq("w2"), "left")
      .join(uni.select(col("t").as("w3"), col("cu").as("cu_w3")), Seq("w3"), "left")
      .crossJoin(broadcast(tot))
      .select(col("tg"),
        when(col("c3").isNotNull, blen(col("cb_ctx")) - blen(col("c3")))
          .when(col("cb_bo").isNotNull, blen(col("cu_ctx")) - blen(col("cb_bo")) + 2)
          .when(col("cu_w3").isNotNull, blen(col("n_total")) - blen(col("cu_w3")) + 4)
          .otherwise(blen(col("n_total")) + 4).as("bits"),
        when(col("c3").isNotNull, lit(0L))
          .when(col("cb_bo").isNotNull, lit(1L))
          .when(col("cu_w3").isNotNull, lit(2L))
          .otherwise(lit(3L)).as("lvl"))

    val per = inst.join(sv, "tg")
      .groupBy(col(idCol))
      .agg(
        sum(col("tf")).as("n_trigrams"),
        graft.functions.gf.roundHalfUp(sum(col("tf") * col("bits")).cast("double") / sum(col("tf")), 6)
          .as("mean_bits"),
        graft.functions.gf.roundHalfUp(sum(when(col("lvl") > 0, col("tf")).otherwise(lit(0))).cast("double")
          / sum(col("tf")), 6).as("backoff_frac"))

    // keep sub-3-token documents (null score) so output covers the corpus;
    // persist before the sort so its sampling pass reads the cache
    Stored.cached(df.select(col(idCol))
      .join(per, Seq(idCol), "left"))
      .orderBy(col(idCol))
  }
}
