package graft.operators

import graft.Stored
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.gf

/**
 * Bitext mining — mutual-best cosine matching with ratio-margin scoring
 * (Artetxe & Schwenk 2019 §4.1 'max' strategy at k=1; the machinery
 * behind CCMatrix-style parallel-corpus construction). A pair (x, y)
 * across two sides is emitted when each is the other's best match and
 * x's margin — best cosine over runner-up cosine — clears the bar; the
 * margin kills hub vectors that are "everyone's best match" but no one's
 * CLEAR best.
 *
 * k=1 ratio margin is chosen deliberately: it is a single IEEE division
 * of two cosines, so the DuckDB oracle reproduces it bit-for-bit, where
 * the k>1 average-of-neighbors denominator would hinge on float summation
 * order (the round-discipline rule).
 *
 * 100 TB shape: vectors normalize ONCE before the candidate join
 * (embeddingCosinePairs pattern — the norm column is computed before the
 * exchange so HOF lambdas never re-fold it); candidates join within
 * `bucket` (pass an IVF/LSH bucket from Ann to keep the quadratic inside
 * cells; the default single bucket is for corpus-sized sides only); the
 * per-side top-2 is a window PARTITIONED BY the record id — never a
 * one-partition sort.
 */
object BitextMine {

  /** Mutual-best pairs (id_a, id_b, cosine, margin) with margin ≥
    * minMargin (margin null-safe: a runner-up cosine <= 0 means no
    * competitor — the pair passes on cosine alone). */
  def mine(df: DataFrame, idCol: String, vecCol: String, sideA: Column,
           minCos: Double, minMargin: Double,
           bucket: Column = lit(0)): DataFrame = {
    val v = Stored.cached(df.select(col(idCol).as("_id"), sideA.as("_sa"),
        col(vecCol).as("_raw"), gf.l2Norm(col(vecCol)).as("_n"),
        bucket.as("_bkt"))
      .where(col("_n") > 0)
      .repartition(col("_bkt"))
      .select(col("_id"), col("_sa"), col("_bkt"),
        transform(col("_raw"), x => x.cast("double") / col("_n")).as("_v")))
    val a = v.where(col("_sa")).select(col("_bkt"), col("_id").as("_ida"), col("_v").as("_va"))
    val b = v.where(!col("_sa")).select(col("_bkt"), col("_id").as("_idb"), col("_v").as("_vb"))
    val pairs = Stored.cached(a.join(b, Seq("_bkt"))
      .select(col("_ida"), col("_idb"),
        gf.dotProduct(col("_va"), col("_vb")).as("_cos")))

    def top2(partCol: String, otherCol: String) = pairs
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col(partCol)).orderBy(col("_cos").desc, col(otherCol))))
      .where(col("_rk") <= 2)
    val bestA = top2("_ida", "_idb")
    val best1 = bestA.where(col("_rk") === 1)
      .select(col("_ida"), col("_idb"), col("_cos"))
    val best2 = bestA.where(col("_rk") === 2)
      .select(col("_ida"), col("_cos").as("_cos2"))
    val bestB = top2("_idb", "_ida").where(col("_rk") === 1)
      .select(col("_idb"), col("_ida").as("_back"))

    val verified = Stored.cached(best1
      .join(best2, Seq("_ida"), "left")
      .join(bestB, Seq("_idb"))
      .where(col("_back") === col("_ida"))                 // mutual best
      .where(col("_cos") >= minCos)
      .select(col("_ida").as("id_a"), col("_idb").as("id_b"),
        graft.functions.gf.roundHalfUp(col("_cos"), 6).as("cosine"),
        when(col("_cos2") > 0, graft.functions.gf.roundHalfUp(col("_cos") / col("_cos2"), 6)).as("margin"))
      .where(col("margin").isNull || col("margin") >= minMargin))
    verified.orderBy(col("id_a"))
  }
}
