package graft.operators

import graft.Stored
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.gf

/**
 * RAKE keyword extraction (Rose et al. 2010), sum-ratio scoring: candidate
 * phrases are maximal stopword-free token runs (capped at maxPhraseLen);
 * per-document word stats freq(w) = occurrences and deg(w) = Σ |phrase|
 * over phrases containing w; a phrase scores deg-sum over freq-sum.
 *
 * The sum-ratio variant is deliberate: classic RAKE sums PER-WORD ratios
 * deg(w)/freq(w), which makes the result a float SUM whose value depends
 * on summation order — not cross-engine replayable. Summing the integer
 * numerators and denominators separately keeps every aggregate exact and
 * leaves ONE rounded division per phrase, preserving the ranking
 * intuition (long phrases of well-connected words win).
 *
 * Shape: one posexplode, a per-document running stopword count for phrase
 * ids (window partitioned by doc — never global), two doc-word rollups,
 * one join back. Linear in corpus tokens at any scale.
 */
object Rake {

  /** Top-k phrases per document: (idCol, phrase, n_words, phrase_deg,
    * phrase_freq, score, rank). Duplicate phrase texts within a document
    * collapse (identical words ⇒ identical stats). */
  def keywords(df: DataFrame, idCol: String, textCol: String,
               stopwords: Seq[String], maxPhraseLen: Int, topK: Int): DataFrame = {
    require(maxPhraseLen >= 1 && topK >= 1, "need positive maxPhraseLen and topK")
    val toks = df.select(col(idCol),
      posexplode(filter(gf.tokens(col(textCol)), x => length(x) > 0))
        .as(Seq("_pos", "_w")))
    val marked = toks.withColumn("_stop", col("_w").isin(stopwords.map(lit): _*))
      .withColumn("_grp", sum(col("_stop").cast("int")).over(
        Window.partitionBy(col(idCol)).orderBy(col("_pos"))))
    val phrases = Stored.cached(marked.where(!col("_stop"))
      .groupBy(col(idCol), col("_grp"))
      .agg(array_join(transform(
          sort_array(collect_list(struct(col("_pos"), col("_w")))),
          s => s("_w")), " ").as("phrase"),
        count(lit(1)).as("n_words"))
      .where(col("n_words") <= maxPhraseLen))

    val phraseWords = phrases.select(col(idCol), col("_grp"), col("n_words"),
      explode(split(col("phrase"), " ")).as("_w"))
    val stats = phraseWords.groupBy(col(idCol), col("_w"))
      .agg(count(lit(1)).as("_freq"), sum(col("n_words")).as("_deg"))

    val scored = phraseWords.join(stats, Seq(idCol, "_w"))
      .groupBy(col(idCol), col("_grp"))
      .agg(sum(col("_deg")).as("phrase_deg"), sum(col("_freq")).as("phrase_freq"))
      .join(phrases, Seq(idCol, "_grp"))
      // duplicate phrase texts collapse before ranking so the
      // (score, phrase) order is total and engine-independent
      .groupBy(col(idCol), col("phrase"), col("n_words"),
        col("phrase_deg"), col("phrase_freq"))
      .agg(count(lit(1)).as("_dup"))
      .select(col(idCol), col("phrase"), col("n_words"),
        col("phrase_deg"), col("phrase_freq"),
        graft.functions.gf.roundHalfUp(col("phrase_deg").cast("double") / col("phrase_freq"), 6).as("score"))
    // output-sized store: the final sort's range-sampling pass would
    // otherwise re-execute the stats join + double rollup (FuzzyJoin
    // pattern; ~0.3s of the gate at sf0.1)
    Stored.cached(scored)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("score").desc, col("phrase"))))
      .where(col("rank") <= topK)
      .orderBy(col(idCol), col("rank"))
  }
}
