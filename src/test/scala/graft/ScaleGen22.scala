package graft

import org.apache.spark.sql.functions._

/** r22 scaling-probe data generator: writes a K-times replica of an SF dir
  * with keys shifted per copy so unions stay key-consistent (doc/vec/event/
  * order/customer/supplier ids shift together; nation/region/part stay as
  * dimension tables). Used ONLY to measure 8-vs-32-cpu scaling ratios at a
  * size where sf0.1's fixed-overhead floor stops masking parallelism
  * (SCALING_r22.json); never by any declared query or the driver's bench.
  *
  * usage: Test/runMain graft.ScaleGen22 <srcDir> <dstDir> <k>
  */
object ScaleGen22 {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, kStr) = args.take(3)
    val k = kStr.toInt
    val spark = GateHarness.session(cpus = 32)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    // per-table key columns that must shift per copy (offset = copy * span,
    // span = a power of ten above the table's max key so copies never clash)
    val shiftCols: Map[String, Seq[String]] = Map(
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"),
      "events" -> Seq("event_id", "user_id"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_suppkey", "l_partkey"),
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "nation" -> Seq(),
      "region" -> Seq())

    shiftCols.foreach { case (t, keys) =>
      val p = s"$src/$t.parquet"
      if (new java.io.File(p).exists()) {
        val base = spark.read.parquet(p)
        val out =
          if (keys.isEmpty || k <= 1) base
          else {
            val spans = keys.map { c =>
              val mx = base.agg(max(col(c).cast("long"))).head.getLong(0)
              c -> math.pow(10, math.ceil(math.log10(mx + 2.0))).toLong
            }.toMap
            (0 until k).map { copy =>
              keys.foldLeft(base) { (df, c) =>
                df.withColumn(c, (col(c).cast("long") + lit(copy * spans(c)))
                  .cast(base.schema(c).dataType))
              }
            }.reduce(_ unionByName _)
          }
        out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
        println(s"[scalegen] $t x${if (keys.isEmpty) 1 else k} -> $dst/$t.parquet")
      }
    }
    spark.stop()
  }
}
