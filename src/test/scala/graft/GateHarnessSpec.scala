package graft

import java.nio.file.Files
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The harness the gate mains share. No test calls a main: each main stops
  * the session it runs in. */
class GateHarnessSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  test("select returns the named gates sorted, skipping empty names") {
    assert(GateHarness.select(Some("q_tfidf,,q_minhash_dedup")) == Seq("q_minhash_dedup", "q_tfidf"))
    assert(GateHarness.select(Some(" q_tfidf , q_tfidf ")) == Seq("q_tfidf"))
  }

  test("select with no names returns every gate sorted") {
    val all = GateHarness.select(None)
    assert(all.toSet == SparkEntry.queries.keySet)
    assert(all == all.sorted)
  }

  test("select rejects unknown names and lists every one") {
    val e = intercept[IllegalArgumentException](
      GateHarness.select(Some("q_tfidf,q_nope_b,q_nope_a")))
    assert(e.getMessage.contains("q_nope_a, q_nope_b"))
    assert(!e.getMessage.contains("q_tfidf"))
    intercept[IllegalArgumentException](GateHarness.select(Some(",,")))
  }

  test("jsonString round-trips quote, backslash and control chars through a JSON parser") {
    val s = "say \"hi\"\\ \ttab\r\ncr\u0001end"
    val lit = GateHarness.jsonString(s)
    assert(!lit.exists(_ < ' '))
    assert(parse(s"{$lit: $lit}") == JObject(s -> JString(s)))
  }

  test("sweep unpersists every persistent RDD and returns how many it released") {
    val sc = spark.sparkContext
    // what earlier suites left persisted is held weakly, so a GC could drop
    // some of it mid-test: sweep it first and count only `kept`, held here
    GateHarness.sweep(spark)
    val kept = Seq(sc.parallelize(1 to 10).cache(), spark.range(5).rdd.localCheckpoint())
    kept.foreach(_.count())
    assert(GateHarness.sweep(spark) == kept.size)
    assert(sc.getPersistentRDDs.isEmpty)
    assert(GateHarness.sweep(spark) == 0)
  }

  test("Verify.dump removes every gate's old output, also of a gate that fails") {
    val out = Files.createTempDirectory("verify_dump")
    val stale = Seq("q_tfidf", "q_minhash_dedup").map { name =>
      val part = out.resolve(name).resolve("part-0.parquet")
      Files.createDirectories(part.getParent)
      Files.writeString(part, "stale")
    }
    val other = Files.writeString(out.resolve("notes.txt"), "kept")
    // no tables under this sfDir, so the one gate run fails before it writes
    Verify.dump(spark, out.resolve("no_sf").toString, out.toString, Seq("q_tfidf"))
    stale.foreach(p => assert(!Files.exists(p.getParent), p))
    assert(Files.exists(other))
    Files.delete(other)
    Files.delete(out)
  }
}
