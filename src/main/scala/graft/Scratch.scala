package graft

/** Flagship smoke: runs SparkEntry.entry and prints its row count
  * (the driver checks rows > 0). */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = GateHarness.session()
    val df = SparkEntry.entry(spark).cache()
    val rows = df.count()
    println(s"entry rows=$rows")
    df.show(50, truncate = false)
    df.unpersist()
    spark.stop()
  }
}
