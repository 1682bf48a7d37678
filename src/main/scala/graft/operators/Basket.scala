package graft.operators

import graft.Stored
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Market-basket co-occurrence mining: frequent item pairs and association
 * rules over (basket, item) rows — the classic retail/OLAP workload, and
 * in corpus curation the same shape finds tag/entity co-occurrence across
 * documents.
 *
 * Scale shape: the quadratic step is WITHIN a basket (self-join on the
 * basket key with item < item), so cost is sum of per-basket sizes squared
 * — bounded by the largest basket, not the corpus; the support aggregation
 * shuffles (item, item) pairs only. No candidate-generation rounds (this
 * is the k=2 Apriori level, which in practice is what rules dashboards
 * use; higher k composes by re-joining pairs against baskets).
 */
object Basket {

  /** Item pairs appearing together in >= minSupport baskets:
    * (item_a, item_b, support), item_a < item_b. Duplicate (basket, item)
    * rows collapse first. */
  def frequentPairs(df: DataFrame, basket: String, item: String,
                    minSupport: Long): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    pairsOf(distinctBi(df, basket, item), minSupport)
  }

  /** Association rules a -> b from the frequent pairs: confidence =
    * support(a,b) / support(a), both directions, exact-ratio doubles.
    * The deduped (basket, item) table is stored ONCE
    * and feeds both the item supports and the pair self-join — three
    * derivations of the same distinct would otherwise each rescan the
    * source (branch column sets differ, so AQE stage reuse cannot dedup
    * them). */
  def rules(df: DataFrame, basket: String, item: String,
            minSupport: Long): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    val bi = Stored.now(distinctBi(df, basket, item))
    val itemSup = bi.groupBy(col("_i")).agg(count(lit(1)).as("_sup"))
    // pairs feeds BOTH union branches below; without its own store the
    // within-basket self-join + aggregate (the dominant cost) executes
    // once per branch — storing bi alone does not stop that. The
    // pair table itself is small (frequent pairs only), so materializing
    // it is cheap.
    val pairs = Stored.now(pairsOf(bi, minSupport))
    val dirs = pairs.select(col("item_a").as("lhs"), col("item_b").as("rhs"), col("support"))
      .unionAll(pairs.select(col("item_b").as("lhs"), col("item_a").as("rhs"), col("support")))
    dirs.join(itemSup.withColumnRenamed("_i", "lhs"), Seq("lhs"))
      .select(col("lhs"), col("rhs"), col("support"),
        graft.functions.gf.roundHalfUp(col("support").cast("double") / col("_sup"), 6).as("confidence"))
      .orderBy(col("lhs"), col("rhs"))
  }

  private def distinctBi(df: DataFrame, basket: String, item: String): DataFrame =
    df.select(col(basket).as("_b"), col(item).as("_i")).distinct()

  private def pairsOf(bi: DataFrame, minSupport: Long): DataFrame =
    bi.as("x").join(bi.as("y"), col("x._b") === col("y._b") && col("x._i") < col("y._i"))
      .groupBy(col("x._i").as("item_a"), col("y._i").as("item_b"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
}
