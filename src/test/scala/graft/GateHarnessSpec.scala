package graft

import java.nio.file.Files
import graft.operators.Preference
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The harness the gate mains share, and the `Stored` scopes it runs each
  * gate in. No test calls a main: each main stops the session it runs in. */
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

  /** Persistent RDD ids of the session that are not in `before`. */
  private def storedSince(before: collection.Set[Int]): collection.Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet -- before

  test("a Stored scope releases what it stored and returns how many it released") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var cachedFrame: DataFrame = null
    val (rows, released) = Stored.counted {
      val eager = Stored.now(spark.range(10).toDF("x"))
      val lazyCut = Stored.once(spark.range(5).toDF("x"))
      cachedFrame = Stored.cached(spark.range(7).toDF("y"))
      val rows = eager.count() + lazyCut.count() + cachedFrame.count()
      assert(storedSince(before).size == 3)
      assert(cachedFrame.storageLevel != StorageLevel.NONE)
      rows
    }
    assert(rows == 22 && released == 3)
    assert(storedSince(before).isEmpty)
    // the cache entry goes too, not just its blocks
    assert(cachedFrame.storageLevel == StorageLevel.NONE)
    assert(Stored.counted(spark.range(3).count()) == ((3L, 0)))
  }

  test("a Stored scope releases what it stored when its block throws") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException](Stored.scoped {
      Stored.now(spark.range(4).toDF("x")).count()
      throw new IllegalStateException("boom")
    })
    assert(storedSince(before).isEmpty)
  }

  test("a nested Stored scope releases only its own stores") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Stored.scoped {
      val outer = Stored.now(spark.range(6).toDF("x"))
      val (_, inner) = Stored.counted(Stored.now(spark.range(3).toDF("x")).count())
      assert(inner == 1)
      // the outer frame is still stored and readable
      assert(storedSince(before).size == 1)
      assert(outer.count() == 6 && outer.count() == 6)
    }
    assert(storedSince(before).isEmpty)
  }

  test("a Stored scope never releases another thread's stores") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val stored = new java.util.concurrent.CountDownLatch(1)
    val closed = new java.util.concurrent.CountDownLatch(1)
    @volatile var rows = -1L
    val other = new Thread(() => Stored.scoped {
      val mine = Stored.now(spark.range(8).toDF("x"))
      stored.countDown()
      closed.await()
      // read after the main thread's scope released its own store
      rows = mine.count()
    })
    val (_, released) = Stored.counted {
      Stored.now(spark.range(2).toDF("x")).count()
      other.start()
      stored.await()
    }
    assert(released == 1)
    assert(storedSince(before).size == 1)
    closed.countDown()
    other.join()
    assert(rows == 8)
    assert(storedSince(before).isEmpty)
  }

  test("a frame an operator returns from its internal scope can be read twice after it returns") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("a", "b")).toDF("w", "l")
    val docs = Seq(("d1", 5L), ("d2", 3L), ("d3", 9L)).toDF("id", "n")
    Stored.scoped {
      // both operators release their intermediates in a scope of their own
      // before they return; their results pass to this scope
      val ranked = Preference.bradleyTerry(pairs, "w", "l", iters = 2)
      val packed = graft.operators.Packing.packSequences(docs, "id", col("n"), 4)
      val first = (ranked.collect().toSeq, packed.orderBy("id").collect().toSeq)
      assert(first._1.map(_.getString(0)) == Seq("a", "b", "c"))
      assert(first._2.map(_.getAs[Long]("tok_end")) == Seq(5L, 8L, 17L))
      assert((ranked.collect().toSeq, packed.orderBy("id").collect().toSeq) == first)
    }
    assert(storedSince(before).isEmpty)
  }

  test("runGate releases what the gate stored and reports a failing gate") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (ok, released) = GateHarness.runGate(spark, SparkFixture.sf0001, "q_pagerank")(_.count())
    assert(ok.get > 0 && released > 0)
    assert(storedSince(before).isEmpty)
    val (failed, _) = GateHarness.runGate(spark, "/nonexistent_sf", "q_pagerank")(_.count())
    assert(failed.isFailure)
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
