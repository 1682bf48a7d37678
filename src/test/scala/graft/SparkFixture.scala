package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). */
object SparkFixture {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The smallest scale factor of the generated gate inputs (TESTDATA.md). */
  val sf0001 = "/root/testdata/sf0.001"
}
