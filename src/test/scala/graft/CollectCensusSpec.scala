package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver-materialization census as an ENFORCED invariant (round 20).
  *
  * SURVEY §6 classifies every `.collect()` / `.head()` call in src/main by
  * its driver-memory bound (metadata / bounded-k / stratum-sized /
  * size-gated / oracle-gen / action). Round 19 audited that census as a
  * snapshot; this spec turns it into a RATCHET: the per-file call counts
  * below are the registered census, and any drift — a new collect site, a
  * removed one, a site moved between files — fails the suite until BOTH
  * this table and the SURVEY §6 classification are updated. An
  * uncataloged driver collect is how a scale-killer (a corpus-sized
  * materialization) slips in looking like a one-liner.
  *
  * Counts are raw regex matches: `.collect()` includes the two documented
  * name collisions (GroupedDocSet.collect / the Scala-Array `.collect{}`
  * chains match only once because the partial-function form has no
  * parens), and `.head()` counts DataFrame head() actions — Scala
  * collection `.head` (no parens) is not matched.
  */
class CollectCensusSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala")

  // file (relative to src/main/scala) -> (collect() sites, head() sites)
  private val census: Map[String, (Int, Int)] = Map(
    // r22: q_retrieval_e2e's three embedding collects (centroids, query
    // vectors, anchor labels) merged into ONE ordered 16-row collect —
    // bounded driver state, same contract as q_ann_ivf's pinned codebook
    "graft/SparkEntry.scala" -> (14, 6),
    // kmeans reads back at most k distinct embeddings to seed itself when
    // the input has fewer than k (SURVEY §6 row 2b)
    "graft/docset/DocSet.scala" -> (4, 0),
    "graft/ann/Ann.scala" -> (3, 0),
    "graft/plan/QueryExecutor.scala" -> (2, 0),
    "graft/dedup/Dedup.scala" -> (1, 1),
    // the three mixtures share one stratum-sized totals collect
    // (strataTotals, SURVEY §6 row 15)
    "graft/operators/Sampling.scala" -> (1, 0),
    "graft/operators/Packing.scala" -> (3, 0),
    "graft/operators/Dsir.scala" -> (2, 0),
    // r21: Stats gained the histogram-selection walks (valuesAtRanks x2,
    // ksDistance x2, twoMiddleSumSel phase-2 hits) — all metadata/
    // output-sized; Calibration's bounds collect moved into
    // Stats.valuesAtRanks; Privacy's per-node head() became ONE batched
    // lattice collect; EditJoin's opt-in hot sets are collected as
    // broadcast literals instead of persisted frames. SURVEY §6 rows
    // 10-12b/46-47 classify each.
    "graft/operators/Stats.scala" -> (6, 0),
    "graft/operators/QualityClassifier.scala" -> (1, 0),
    "graft/operators/Fusion.scala" -> (1, 0),
    "graft/operators/EditJoin.scala" -> (2, 0),
    "graft/operators/Bpe.scala" -> (1, 0),
    "graft/operators/HeavyHitters.scala" -> (0, 1),
    "graft/operators/Linkage.scala" -> (0, 1),
    "graft/operators/Privacy.scala" -> (1, 0))

  // second ratchet (r20): the other two audited anti-pattern families.
  // crossJoin sites must be broadcast-1-row-rollup shapes (a scalar
  // aggregate joined onto every row — never a real Cartesian; PlanShapeSpec
  // separately pins zero CartesianProduct nodes in every gate plan), and
  // udf() is allowed only for MLlib vector plumbing (codegen'd expressions
  // otherwise). file -> (crossJoin( sites, udf( sites)
  private val antiPatterns: Map[String, (Int, Int)] = Map(
    "graft/SparkEntry.scala" -> (6, 0),
    "graft/ann/Ann.scala" -> (2, 0),
    "graft/operators/TrigramLm.scala" -> (1, 0),
    "graft/operators/TfIdf.scala" -> (2, 0),
    "graft/operators/Bm25.scala" -> (3, 0),
    "graft/operators/EventAnalytics.scala" -> (2, 0),
    "graft/operators/Privacy.scala" -> (2, 0),
    "graft/operators/Checks.scala" -> (2, 0),
    "graft/operators/Profiler.scala" -> (1, 0),
    // r21: twoProportionZ's crossJoin fell away (the 2-row frame is
    // collected and re-entered as a one-row literal); chiSquare's 1-row
    // broadcast rollup remains
    "graft/operators/Stats.scala" -> (1, 0),
    "graft/operators/UnigramLm.scala" -> (1, 0),
    "graft/operators/QualityClassifier.scala" -> (0, 1))

  private def countIn(s: String, needle: String): Int = {
    var i = 0; var n = 0
    while ({ i = s.indexOf(needle, i); i >= 0 }) { n += 1; i += needle.length }
    n
  }

  test("every driver collect()/head() site is registered in the census") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
    assert(files.nonEmpty, s"no sources under $root — run from the repo root")
    val drift = scala.collection.mutable.ListBuffer.empty[String]
    val seen = scala.collection.mutable.Set.empty[String]
    for (p <- files) {
      val rel = root.relativize(p).toString.replace('\\', '/')
      val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      val got = (countIn(src, ".collect()"), countIn(src, ".head()"))
      val want = census.getOrElse(rel, (0, 0))
      seen += rel
      if (got != want)
        drift += s"$rel: counted (collect, head) = $got, census says $want"
    }
    for ((rel, _) <- census if !seen.contains(rel))
      drift += s"$rel: registered in the census but the file no longer exists"
    assert(drift.isEmpty,
      "driver-materialization census drift — classify the new/changed site " +
        "in SURVEY §6 AND update CollectCensusSpec:\n" + drift.mkString("\n"))
  }

  test("every crossJoin()/udf() site is registered in the anti-pattern census") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
    val drift = scala.collection.mutable.ListBuffer.empty[String]
    for (p <- files) {
      val rel = root.relativize(p).toString.replace('\\', '/')
      val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      val got = (countIn(src, "crossJoin("), countIn(src, "udf("))
      val want = antiPatterns.getOrElse(rel, (0, 0))
      if (got != want)
        drift += s"$rel: counted (crossJoin, udf) = $got, census says $want"
    }
    assert(drift.isEmpty,
      "anti-pattern census drift — audit the new site (crossJoin: is it a " +
        "1-row broadcast rollup? udf: why not a codegen'd expression?) and " +
        "update CollectCensusSpec:\n" + drift.mkString("\n"))
  }

  test("the ratchet actually fires on an unregistered site") {
    // self-test of the counter, so a silent regex bitrot can't neuter the
    // census: a synthetic source with one of each site must be counted
    val fake = "val x = df.groupBy(k).agg(f).collect().map(r => r)\n" +
      "val y = df.agg(m).head()\n" +
      "val z = xs.collect { case a => a }\n" + // partial-function: NOT a site
      "val w = xs.head\n" // collection head: NOT a site
    assert(countIn(fake, ".collect()") == 1 && countIn(fake, ".head()") == 1)
  }
}
