package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every gate, run through the harness's per-gate step in one session,
  * leaves the session's storage as it found it: no persistent RDD it did
  * not start with, and no Dataset-cache entry. A cache entry left behind
  * would be matched by a later identical plan (a later run of the same
  * gate, or a gate that rebuilds the same query) after its blocks are gone,
  * so that run would not time or check the plan it asked for. */
class LeakSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  private val sfDir = SparkFixture.sf0001

  test("every gate releases every frame it stored and leaves no cache entry") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    val sc = spark.sparkContext
    val cache = spark.sharedState.cacheManager
    // earlier suites call operators outside any scope, and such a caller
    // owns (and may leave) what the operator stored: start from an empty
    // cache so every entry seen below is a gate's
    spark.catalog.clearCache()
    val start = sc.getPersistentRDDs.keySet
    val leaks = GateHarness.select(None).flatMap { name =>
      val (done, _) = GateHarness.runGate(spark, sfDir, name)(_.queryExecution.toRdd.count())
      assert(done.isSuccess, s"$name failed: ${done.failed.map(_.getMessage).getOrElse("")}")
      val left = sc.getPersistentRDDs.keySet -- start
      val entries = !cache.isEmpty
      // clean up after a leaking gate so the next gate is judged alone
      if (entries) spark.catalog.clearCache()
      left.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
      if (left.nonEmpty || entries)
        Some(s"$name: ${left.size} persistent RDDs left, cache entries left: $entries")
      else None
    }
    assert(leaks.isEmpty, leaks.mkString("\n", "\n", ""))
  }
}
