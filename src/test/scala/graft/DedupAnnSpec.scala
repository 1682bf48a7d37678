package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ann.Ann
import graft.dedup.Dedup

class DedupAnnSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private lazy val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the old river bank"),
    (1L, "the quick brown fox jumps over the lazy dog near the old river bank"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the old creek bank"), // near dup of 0
    (3L, "completely unrelated document discussing distributed query processing engines"),
    (4L, "another separate text about machine learning training corpora and tokens"))
    .toDF("doc_id", "text")

  test("exact dedup keeps min id with copy counts") {
    val out = Dedup.exact(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0L, 2L), (2L, 1L), (3L, 1L), (4L, 1L)))
    val rows = Dedup.exactRows(corpus, "doc_id", "text").orderBy("doc_id")
      .select("doc_id").as[Long].collect().toSeq
    assert(rows == Seq(0L, 2L, 3L, 4L))
  }

  test("exactRowsKeepBest keeps the top-ranked copy, ties by min id, no window") {
    val ranked = Seq(
      (0L, "dup text", 0.2), (1L, "dup text", 0.9), (2L, "dup text", 0.9),
      (3L, "unique", 0.1))
      .toDF("doc_id", "text", "q")
    val kept = Dedup.exactRowsKeepBest(ranked, "doc_id", "text", col("q"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    // highest q wins; 1 and 2 tie at 0.9 -> min id 1
    assert(kept == Seq(1L, 3L))
    // partitioning-independence
    val kept2 = Dedup.exactRowsKeepBest(ranked.repartition(7), "doc_id", "text", col("q"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept2 == kept)
    // string ids work (the rank, not the id, is negated internally)
    val sids = Seq(("a", "x", 1.0), ("b", "x", 2.0)).toDF("sid", "text", "q")
    assert(Dedup.exactRowsKeepBest(sids, "sid", "text", col("q"))
      .select("sid").as[String].collect().toSeq == Seq("b"))
    // scale guard: an aggregate, never a window (hot dup groups must not
    // funnel one task), and no text on shuffle keys
    val plan = Dedup.exactRowsKeepBest(ranked, "doc_id", "text", col("q"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition"))
    assert(!plan.contains("hashpartitioning(text"))
    // NULL ranks lose to every real rank (struct ordering would sort a
    // null field FIRST without the internal coalesce-to--Infinity), and
    // an all-null group still keeps its min-id row, never vanishes
    val withNull = Seq(
      (0L, "dup text", Some(0.2)), (1L, "dup text", None),
      (2L, "all null", None), (3L, "all null", None))
      .toDF("doc_id", "text", "q")
    val keptN = Dedup.exactRowsKeepBest(withNull, "doc_id", "text", col("q"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptN == Seq(0L, 2L))
  }

  test("exactRows exchanges key on content hashes, never on text") {
    // scale guard: raw document text must not be a grouping/join key — every
    // hashpartitioning spec in the physical plan carries the 192-bit content
    // hash columns instead (text rides only as row payload)
    val plan = Dedup.exactRows(corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    val parts = "hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(parts.nonEmpty, s"expected at least one shuffle in:\n$plan")
    assert(parts.forall(p => !p.contains("text#")),
      s"text used as a shuffle key:\n${parts.mkString("\n")}")
    assert(parts.exists(_.contains("_content_hash")))
  }

  test("minhash LSH finds exact and near dup, not unrelated") {
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text",
        shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.3)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => b == 3L || b == 4L || a == 3L })
    val survivors = Dedup.minhashLsh(corpus, "doc_id", "text",
        shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors.contains(0L) && !survivors.contains(1L))
    assert(survivors.contains(3L) && survivors.contains(4L))
  }

  test("minhashLsh drop set matches the pairs-derived drop set (poly + xx sigs)") {
    // the optimized dedup path (group-min band join, no pair expansion) must
    // keep exactly the ids that minhashLshPairs -> distinct(idB) keeps
    val rnd = new scala.util.Random(3)
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    val docs = (0 until 60).map { i =>
      val toks = words.map(t => if (rnd.nextDouble() < 0.2) t + rnd.nextInt(3) else t)
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
    for (sig <- Seq(None,
        Some((t: org.apache.spark.sql.Column) =>
          graft.functions.gf.minhashPoly(graft.functions.gf.wordShingles(t, 3), 16)))) {
      val viaPairs = {
        val dropped = Dedup.minhashLshPairs(docs, "doc_id", "text",
            shingleSize = 3, threshold = 0.5, signature = sig)
          .select(col("idB").as("doc_id")).distinct()
        docs.join(dropped, Seq("doc_id"), "left_anti")
          .select("doc_id").as[Long].collect().toSet
      }
      val direct = Dedup.minhashLsh(docs, "doc_id", "text",
          shingleSize = 3, threshold = 0.5, signature = sig)
        .select("doc_id").as[Long].collect().toSet
      assert(direct == viaPairs)
    }
  }

  test("minhashLsh never drops an id through its own near-duplicate copy") {
    // two rows share id 7 with near-duplicate, non-identical texts: the
    // cross-group drop must not pit the id against itself
    val texts = corpus.orderBy("doc_id").select("text").as[String].collect()
    val docs = Seq((7L, texts(0)), (7L, texts(2)), (9L, texts(3))).toDF("doc_id", "text")
    val kept = Dedup.minhashLsh(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(7L, 7L, 9L))
    val sig = Seq((7L, (1L to 16L).toArray), (7L, ((1L to 15L) :+ 999L).toArray),
      (9L, (101L to 116L).toArray)).toDF("_id", "_sig")
    val keepIds = Dedup.minhashLshKeepIds(sig, "doc_id", 16, 4, 0.5)
      .as[Long].collect().toSet
    assert(keepIds == Set(7L, 9L))
  }

  test("connectedComponents matches union-find on random graphs and long paths") {
    // path graph: the adversarial depth case — greedy one-hop labeling fails,
    // large-star/small-star must close it within O(log n) rounds
    val path = (0L until 199L).map(i => (i, i + 1)).toDF("src", "dst")
    // localFinishEdges = 0 forces the distributed star-contraction loop
    // (default would take the size-gated driver union-find shortcut)
    val pathComp = Dedup.connectedComponents(path, "src", "dst", localFinishEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pathComp.size == 200 && pathComp.values.forall(_ == 0L))
    val pathLocal = Dedup.connectedComponents(path, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pathLocal == pathComp)
    // random graph vs driver-side union-find
    val rnd = new scala.util.Random(11)
    val edges = (0 until 120).map(_ => (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
    val parent = Array.tabulate(100)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n.toInt).toLong).toMap
    val got = Dedup.connectedComponents(edges.toDF("src", "dst"), "src", "dst",
        localFinishEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // canonical labels: union-find roots ARE the component minima here
    // because unions always hang the larger root under the smaller
    assert(got == expected)
    // and the size-gated local path agrees with the distributed loop
    val gotLocal = Dedup.connectedComponents(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotLocal == expected)
  }

  test("minhashLshCC keeps exactly one doc per transitive duplicate class") {
    val rnd = new scala.util.Random(3)
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    val docs = (0 until 60).map { i =>
      val toks = words.map(t => if (rnd.nextDouble() < 0.2) t + rnd.nextInt(3) else t)
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", shingleSize = 3)
      .select("idA", "idB").as[(Long, Long)].collect()
    // expected survivors: min id of each union-find component over the pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expectedDrops = parent.keys.map(k => k -> find(k)).filter(p => p._1 != p._2)
      .map(_._1).toSet
    val survivors = Dedup.minhashLshCC(docs, "doc_id", "text", shingleSize = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == (0L until 60L).toSet -- expectedDrops)
  }

  test("minhashLshCC dedups STRING-id corpora (lexicographic survivor)") {
    // the long-cast version silently nulled every edge for string ids and
    // returned the corpus undeduped
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      ("doc-b", base), ("doc-a", base), ("doc-c", base + " kappa2"),
      ("doc-z", "completely different text about engines and planners here"))
      .toDF("doc_id", "text")
    val survivors = Dedup.minhashLshCC(docs, "doc_id", "text", shingleSize = 3)
      .select("doc_id").as[String].collect().toSet
    assert(survivors == Set("doc-a", "doc-z"),
      s"lexicographically-smallest id survives each class: $survivors")
    // connectedComponents itself refuses non-integral ids loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(
        Seq(("a", "b")).toDF("u", "v"), "u", "v")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("minhashLshPairs emits no pairs among null-text docs; bands must divide numHashes") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]),
      (3L, "alpha beta gamma delta epsilon"), (4L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", shingleSize = 3)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs == Set((3L, 4L)),
      s"null signatures are not comparable — no false est=1.0 pairs: $pairs")
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashLshPairs(docs, "doc_id", "text", numHashes = 16, bands = 5)
    }
    assert(e.getMessage.contains("divide"))
    intercept[IllegalArgumentException] {
      Dedup.minhashLsh(docs, "doc_id", "text", numHashes = 16, bands = 32)
    }
  }

  test("embeddingCosinePairs survives zero-norm vectors (pairs with nothing)") {
    val df = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)), (3L, Array(0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosinePairs(df, "vec_id", "embedding",
        bucket = org.apache.spark.sql.functions.lit(1), threshold = 0.9)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"zero vector pairs with nothing: $pairs")
  }

  test("stratifiedByHash: partition-independent, per-stratum fractions, drops unknown strata") {
    import graft.operators.Sampling
    val df = (0 until 2000).map(i =>
      (i.toLong, if (i % 4 == 0) "small" else "big")).toDF("id", "stratum")
    val fr = Map("big" -> 0.1, "small" -> 0.8)
    val a = Sampling.stratifiedByHash(df, "id", "stratum", fr)
      .select("id").as[Long].collect().toSet
    val b = Sampling.stratifiedByHash(df.repartition(13), "id", "stratum", fr)
      .select("id").as[Long].collect().toSet
    assert(a == b, "sample must not depend on partitioning")
    val byStratum = Sampling.stratifiedByHash(df, "id", "stratum", fr)
      .groupBy("stratum").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(byStratum("big") / 1500.0 - 0.1) < 0.05)
    assert(math.abs(byStratum("small") / 500.0 - 0.8) < 0.05)
    val none = Sampling.stratifiedByHash(df, "id", "stratum", Map("other" -> 1.0))
    assert(none.count() == 0, "unlisted strata are dropped")
  }

  test("dedupLines drops hot segments, keeps order, empties fully-hot docs") {
    val docs = Seq(
      (0L, "keep one\nBOILER\nkeep two"),
      (1L, "BOILER\nunique line"),
      (2L, "BOILER"),
      (3L, "solo doc text")).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "doc_id", "text", minDocFreq = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "keep one\nkeep two")
    assert(out(1L) == "unique line")
    assert(out(2L) == "")
    assert(out(3L) == "solo doc text")
  }

  test("decontaminate drops docs sharing an n-gram with the benchmark") {
    val corpusDf = Seq(
      (0L, "the quick brown fox jumps high"),
      (1L, "completely clean document here today"),
      (2L, "nothing shared with bench either")).toDF("doc_id", "text")
    val bench = Seq((100L, "watch the quick brown fox run")).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpusDf, bench, "doc_id", "text", n = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L)) // doc 0 shares "the quick brown fox"
  }

  test("decontaminate applies its rule per row: null ids drop, shared ids keep clean rows") {
    val item = "watch the quick brown fox run"
    val bench = Seq(("t0", item)).toDF("doc_id", "text")
    val clean = "completely clean document here today"
    // a contaminated row with a null id; a clean row sharing id "a" with a
    // contaminated one
    val corpusDf = Seq[(String, String)](
      ("a", "some prefix text " + item), (null, "foo bar " + item),
      ("a", "a clean row under the same id"), ("b", clean)).toDF("doc_id", "text")
    for (op <- Seq[(DataFrame, DataFrame) => DataFrame](
        Dedup.decontaminate(_, _, "doc_id", "text", n = 4),
        Dedup.decontaminateBloom(_, _, "doc_id", "text", n = 4))) {
      val out = op(corpusDf, bench)
      assert(out.columns.toSeq == Seq("doc_id", "text"))
      assert(out.as[(String, String)].collect().toSet ==
        Set(("a", "a clean row under the same id"), ("b", clean)))
    }
  }

  /** 200 seeded words: a one-word edit keeps est-jaccard far above 0.5 and
    * shares a band with near certainty; two seeds share nothing. */
  private def longDoc(seed: Int): String = {
    val r = new scala.util.Random(seed)
    Seq.fill(200)(s"w${r.nextInt(5000)}").mkString(" ")
  }
  private def nearOf(t: String): String = {
    val w = t.split(" ")
    w(w.length / 2) = "edited"
    w.mkString(" ")
  }

  test("dedupIncrement on a mixed batch: history drops, within-batch greedy, null text kept") {
    val hist = (0 until 4).map(i => (100L + i, longDoc(i))).toDF("doc_id", "text")
    val batch = Seq[(Long, Option[String])](
      (1L, Some(longDoc(50))), (2L, Some(longDoc(51))),      // new
      (3L, Some(longDoc(0))), (4L, Some(longDoc(1))),        // exact copies of history
      (5L, Some(nearOf(longDoc(2)))), (6L, Some(nearOf(longDoc(3)))), // near copies of history
      (7L, Some(longDoc(60))), (8L, Some(nearOf(longDoc(60)))),       // within-batch near pair
      (9L, Some(longDoc(61))), (10L, Some(longDoc(61))),     // exact duplicate inside the batch
      (11L, None))                                           // null text
      .toDF("doc_id", "text")
    val out = Dedup.dedupIncrement(batch, "doc_id", "text",
        Dedup.fingerprints(hist, "doc_id", "text"))
    assert(out.columns.toSeq == Seq("doc_id", "text"))
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 7L, 9L, 11L))
  }

  test("dedupIncrement drops per row: a near copy of history goes, a fresh row with its id stays") {
    val hist = Seq((100L, longDoc(7))).toDF("doc_id", "text")
    val batch = Seq((5L, nearOf(longDoc(7))), (5L, longDoc(70))).toDF("doc_id", "text")
    val out = Dedup.dedupIncrement(batch, "doc_id", "text",
        Dedup.fingerprints(hist, "doc_id", "text"))
      .as[(Long, String)].collect().toSeq
    assert(out == Seq((5L, longDoc(70))))
  }

  test("dedupIncrement never shuffles or aggregates history rows") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val histDir = java.nio.file.Files.createTempDirectory("inc-history").toString + "/fp"
    Dedup.fingerprints((0 until 8).map(i => (100L + i, longDoc(i))).toDF("doc_id", "text"),
      "doc_id", "text").write.parquet(histDir)
    val batch = Seq((1L, longDoc(0)), (2L, nearOf(longDoc(1))), (3L, longDoc(80)),
      (4L, nearOf(longDoc(80)))).toDF("doc_id", "text")
    val out = Dedup.dedupIncrement(batch, "doc_id", "text", spark.read.parquet(histDir))
    assert(out.select("doc_id").as[Long].collect().toSet == Set(3L))
    // the AQE final plan, walked into its query stages and reused exchanges
    def inner(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case o => o.children
    }
    def all(p: SparkPlan): Seq[SparkPlan] = p +: inner(p).flatMap(all)
    def isHistory(p: SparkPlan) = p match {
      case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.toString.contains(histDir))
      case _ => false
    }
    // history rows flow into `p` when a history scan is reached without
    // crossing a join: past a join only matched batch-side rows flow on
    def carriesHistory(p: SparkPlan): Boolean = p match {
      case _: BaseJoinExec => false
      case s if isHistory(s) => true
      case o => inner(o).exists(carriesHistory)
    }
    val plan = all(out.queryExecution.executedPlan)
    assert(plan.exists(isHistory), "no history scan in the plan: the check proves nothing")
    val offenders = plan.collect {
      case e: ShuffleExchangeExec if carriesHistory(e.child) => e
      case a: BaseAggregateExec if carriesHistory(a.child) => a
    }
    assert(offenders.isEmpty, offenders.map(_.simpleString(200)).mkString("\n"))
  }

  test("bm25 ranks term-bearing docs above term-free docs, tf-monotone") {
    val docs = Seq(
      (0L, "spark spark spark engine"),
      (1L, "spark engine other words"),
      (2L, "nothing relevant at all")).toDF("doc_id", "text")
    val s = graft.operators.Bm25.score(docs, "doc_id", "text", Seq("spark"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(0L) > s(1L) && s(1L) > 0.0 && s(2L) == 0.0)
  }

  test("signBucket: one plan node, matches the literal-tree oracle, sign-stable") {
    import org.apache.spark.sql.Column
    val rnd = new scala.util.Random(7)
    val dim = 24; val planes = 6
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)))
    val df = vecs.toDF("id", "vec")
    // oracle: the superseded Column-composition formulation, re-built inline
    val oracle: Column = (0 until planes).map { p =>
      val dot = (0 until dim).map { i =>
        val h = ((java.lang.Long.rotateLeft(
          0x9e3779b97f4a7c15L * (42 + p * 1315423911L + i), 17)
          >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
        element_at(col("vec"), i + 1).cast("double") * lit(h)
      }.reduce(_ + _)
      when(dot >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val both = df.select(Dedup.signBucket(col("vec"), planes, dim).as("fast"),
      oracle.as("slow")).collect()
    assert(both.forall(r => r.getLong(0) == r.getLong(1)))
    // plan bloat guard: the bucket column is one expression node, no
    // per-dimension element_at expansion
    val plan = df.select(Dedup.signBucket(col("vec"), planes, dim).as("b"))
      .queryExecution.analyzed.toString
    assert(plan.contains("sign_bucket") && !plan.contains("element_at"))
    // positive scaling preserves every sign -> identical bucket
    val scaled = df.select(col("id"),
      Dedup.signBucket(col("vec"), planes, dim).as("b1"),
      Dedup.signBucket(transform(col("vec"), x => x * lit(1.5f)), planes, dim).as("b2"))
      .collect()
    assert(scaled.forall(r => r.getLong(1) == r.getLong(2)))
  }

  test("simhash pairs bucket and verify hamming") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 10)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((3L, 4L)))
  }

  test("simhash pairs match brute force exactly (recall at hamming > 3)") {
    // 40 mutated variants -> many pairs at mid-range hamming distances.
    // Round-1 bug: fixed 4-quarter bucketing missed distance 4-10 pairs whose
    // differing bits spread across all quarters; chunks = maxHamming+1 fixes it.
    val rnd = new scala.util.Random(7)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu".split(" ")
    val docs = (0 until 40).map { i =>
      val toks = base.map(t => if (rnd.nextDouble() < 0.15) t + rnd.nextInt(10) else t)
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val maxH = 8
    val got = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = maxH)
      .select("idA", "idB", "hamming").as[(Long, Long, Int)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    // brute-force oracle over collected sketches
    val sk = docs.select(col("doc_id"), graft.functions.gf.simhash64(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    val want = (for {
      a <- sk.keys; b <- sk.keys if a < b
      h = java.lang.Long.bitCount(sk(a) ^ sk(b)) if h <= maxH
    } yield (a, b) -> h).toMap
    assert(got == want)
    assert(want.values.exists(h => h > 3 && h <= maxH),
      "test data must exercise the distance band the old bucketing missed")
  }

  test("ngram jaccard exact pairs with correct values") {
    val rows = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        shingleSize = 3, threshold = 0.2)
      .orderBy("idA", "idB").collect()
    val m = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m((0L, 1L)) == 1.0)
    assert(m.contains((0L, 2L)) && m((0L, 2L)) > 0.2 && m((0L, 2L)) < 1.0)
  }

  test("embedding cosine pairs within buckets; brute-force ANN exact top-k") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.0f, 0.98f, 0.2f), 1)).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingCosinePairs(vecs, "vec_id", "embedding", col("label"), 0.9)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (2L, 3L)))

    val top = Ann.bruteForceTopK(vecs, "vec_id", "embedding", Seq(1.0, 0.0, 0.0), 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(0L, 1L))
  }

  test("IVF assigns centroids and probes subset") {
    val vecs = (0 until 40).map { i =>
      val base = if (i < 20) Array(1.0f, 0.0f) else Array(0.0f, 1.0f)
      (i.toLong, base.map(x => x + (i % 5) * 0.01f), i / 20)
    }.toDF("vec_id", "embedding", "label")
    val centroids = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val assigned = vecs.withColumn("centroid_id",
      Ann.nearestCentroid(col("embedding"), centroids))
    val byC = assigned.groupBy("centroid_id").count().as[(Int, Long)].collect().toMap
    assert(byC == Map(0 -> 20L, 1 -> 20L))
    val got = Ann.ivfTopK(vecs, "vec_id", "embedding", centroids, Seq(1.0, 0.0), 5, nprobe = 1)
      .select("vec_id").as[Long].collect().toSeq
    assert(got.size == 5)
    assert(got.forall(_ < 20)) // only the probed list is searched
  }

  test("IVF recall@10 >= 0.9 vs brute force on clustered vectors") {
    // IVF presumes clusterable data (true of real embedding corpora; the
    // synthetic testdata embeddings are uniform random unit vectors, where
    // ANY partitioning index degenerates to recall ~ nprobe/nlist).
    val rnd = new scala.util.Random(11)
    val dim = 64
    val centers = Array.fill(16)(Array.fill(dim)(rnd.nextGaussian()))
    def normalize(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val vecs = (0 until 500).map { i =>
      val c = centers(i % 16)
      (i.toLong, normalize(c.map(x => x + 0.3 * rnd.nextGaussian())).map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val q = vecs.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val exact = Ann.bruteForceTopK(vecs, "vec_id", "embedding", q, 10)
      .select("vec_id").as[Long].collect().toSet
    val centroids = Ann.sampleCentroids(vecs, "vec_id", "embedding", 64)
    val approx = Ann.ivfTopK(vecs, "vec_id", "embedding", centroids, q, 10, nprobe = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(exact.intersect(approx).size >= 9,
      s"recall ${exact.intersect(approx).size}/10 too low")
  }

  test("PQ with zero quantization error reproduces exact L2 top-k") {
    // corpus vectors are built FROM the codebook (each subvector is a
    // centroid), so ADC distance equals exact distance and the PQ top-k
    // must match brute-force squared-L2 exactly
    val m = 4; val subDim = 4; val ksub = 8
    val rnd = new scala.util.Random(5)
    val codebooks = Array.fill(m)(Array.fill(ksub)(Array.fill(subDim)(rnd.nextGaussian())))
    val vecs = (0 until 200).map { i =>
      val v = (0 until m).flatMap(s => codebooks(s)(rnd.nextInt(ksub))).toArray
      (i.toLong, v.map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val q = Array.fill(m * subDim)(rnd.nextGaussian())
    val coded = vecs.withColumn("codes", Ann.pqEncode(col("embedding"), codebooks))
    val got = Ann.pqAdcTopK(coded, "vec_id", "codes", codebooks, q.toSeq, 10)
      .select("vec_id").as[Long].collect().toSeq
    val exact = vecs.collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble)
      (r.getLong(0), v.zip(q).map { case (x, y) => (x - y) * (x - y) }.sum)
    }.sortBy(t => (t._2, t._1)).take(10).map(_._1).toSeq
    assert(got == exact)
  }

  test("PQ trained codebooks: recall@10 >= 0.7 on clustered vectors") {
    val rnd = new scala.util.Random(13)
    val dim = 32
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    val vecs = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val codebooks = Ann.pqTrain(vecs, "vec_id", "embedding", m = 4, ksub = 16)
    val q = vecs.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val coded = vecs.withColumn("codes", Ann.pqEncode(col("embedding"), codebooks))
    // raw ADC blurs within-cluster ranking (quantization error ~ neighbor
    // gaps), so the production shape is shortlist + exact re-rank
    val approx = Ann.pqSearch(coded, "vec_id", "embedding", "codes",
        codebooks, q, 10, shortlist = 50)
      .select("vec_id").as[Long].collect().toSet
    val exact = vecs.collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble)
      (r.getLong(0), v.zip(q).map { case (x, y) => (x - y) * (x - y) }.sum)
    }.sortBy(t => (t._2, t._1)).take(10).map(_._1).toSet
    assert(exact.intersect(approx).size >= 7,
      s"PQ recall ${exact.intersect(approx).size}/10 too low")
  }

  test("knnClassify: majority vote of k nearest seeds, deterministic ties") {
    // seeds: two "x"-axis vectors labeled 0, one "y"-axis labeled 1
    val seeds = Seq(
      (1L, Array(1.0, 0.0), 0), (2L, Array(0.9, 0.1), 0), (3L, Array(0.0, 1.0), 1))
      .toDF("vec_id", "embedding", "label")
    val targets = Seq(
      (10L, Array(1.0, 0.05)),  // near x-axis -> label 0 wins 2/3
      (11L, Array(0.05, 1.0)))  // near y-axis -> 1-NN is label 1, but with
      .toDF("vec_id", "embedding") // k=3 all seeds vote: 0 has 2 votes
    val out = Ann.knnClassify(targets, seeds, "vec_id", "embedding", "label", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(out(10L) == ((0, 2L)))
    assert(out(11L) == ((0, 2L))) // majority beats nearest at k=3
    val out1 = Ann.knnClassify(targets, seeds, "vec_id", "embedding", "label", k = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out1(10L) == 0 && out1(11L) == 1) // k=1 follows the nearest seed
  }

  test("dupSpans: cross-doc n-token spans counted; within-doc repeats are not dups") {
    val df = Seq(
      // 0 and 1 share the 5-token span "alpha beta gamma delta epsilon"
      (0L, "alpha beta gamma delta epsilon zeta unique0 tail0"),
      (1L, "prefix1 alpha beta gamma delta epsilon other1 words1"),
      // 2 repeats its own span twice but shares nothing with other docs
      (2L, "solo sigma tau upsilon phi chi solo sigma tau upsilon phi chi"),
      // 3 is too short for n=5 spans
      (3L, "tiny doc"),
      (4L, "")).toDF("id", "text")
    val out = Dedup.dupSpans(df, "id", "text", n = 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 0: 8 tokens -> 4 spans; exactly one (starting at "alpha") is shared
    assert(out(0L) == ((4L, 1L)))
    assert(out(1L) == ((4L, 1L)))
    // doc 2: 12 tokens -> 8 spans; its self-repeats occur in ONE doc only
    assert(out(2L) == ((8L, 0L)))
    assert(out(3L) == ((0L, 0L)) && out(4L) == ((0L, 0L)))
  }

  test("dupSpans plan: exchanges carry span hashes, never text") {
    val df = Seq((0L, "a b c d e f"), (1L, "a b c d e g")).toDF("id", "text")
    val plan = Dedup.dupSpans(df, "id", "text", n = 5).queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(_g"), "span text must not be a shuffle key")
    assert(!plan.contains("hashpartitioning(text"), "document text must not be a shuffle key")
  }

  test("IVF persisted index probes via partition pruning") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val centroids = Ann.sampleCentroids(emb, "vec_id", "embedding", 16)
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    try {
      Ann.buildIvfIndex(emb, "embedding", centroids, dir)
      val got = Ann.ivfTopKIndexed(spark, dir, "vec_id", "embedding", centroids, q, 10, nprobe = 4)
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [centroid_id") && plan.contains(" IN ("),
        s"probe should prune partitions, plan:\n$plan")
      assert(got.count() == 10)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("SQ8: codes bounded, query twin matches column encoder, rerank = exact top-1") {
    import graft.ann.Ann
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // deterministic separable corpus: cluster A near (1,0,...), B near (0,1,...)
    val dim = 16
    def v(base: Int, j: Int): Seq[Double] =
      Seq.tabulate(dim)(d => (if (d == base) 10.0 else 0.0) + ((j * 7 + d * 3) % 5) * 0.1)
    val rows = (0 until 20).map(j => (j.toLong, v(j % 2, j)))
    val df = rows.toDF("vec_id", "embedding")
    val (mn, mx) = Ann.sq8Train(df, "embedding")
    val coded = df.withColumn("codes", Ann.sq8Encode(col("embedding"), mn, mx))
    val codes = coded.select("codes").collect().map(_.getSeq[Long](0))
    assert(codes.forall(_.forall(c => c >= 0 && c <= 255)))
    // the driver-side twin produces the same codes as the column encoder
    val colCodes = coded.orderBy("vec_id").select("codes").collect().map(_.getSeq[Long](0))
    rows.sortBy(_._1).zip(colCodes).foreach { case ((_, vec), cc) =>
      assert(Ann.sq8EncodeVec(vec, mn, mx).toSeq == cc.toSeq)
    }
    // rerank recovers the exact-cosine winner
    val query = v(0, 3)
    val exact = Ann.bruteForceTopK(df, "vec_id", "embedding", query, 1)
      .select("vec_id").head().getLong(0)
    val sq8 = Ann.sq8SearchRerank(df, "vec_id", "embedding", mn, mx, query, 1)
      .select("vec_id").head().getLong(0)
    assert(sq8 == exact)
  }

  test("hardNegatives: most-similar other-label candidates, self excluded") {
    val emb = Seq(
      (0L, Array(1.0, 0.0), 0),    // anchor, label 0
      (1L, Array(0.99, 0.14), 0),  // same label: never a negative
      (2L, Array(0.9, 0.44), 1),   // closest other-label -> rank 1
      (3L, Array(0.0, 1.0), 1),    // orthogonal other-label -> rank 2
      (4L, Array(-1.0, 0.0), 1))   // opposite other-label -> rank 3
      .toDF("vec_id", "embedding", "label")
    val out = Ann.hardNegatives(emb.where(col("vec_id") === 0), emb,
        "vec_id", "embedding", "label", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 2L, 1L), (0L, 3L, 2L)))
  }

  /** Parquet leaf-scan count of a frame's optimized plan — the multi-query
    * retrieval contract is that this is CONSTANT in the query count. */
  private def scans(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.size

  test("Bm25.scoreMany == per-query score loop; scan count Q-independent") {
    val dir = java.nio.file.Files.createTempDirectory("bm25many").toString
    Seq(
      (0L, "spark spark spark engine"),
      (1L, "spark engine other words"),
      (2L, "nothing relevant at all"),
      (3L, "query engines process spark words"),
      (4L, "alpha beta gamma")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val qts = Seq(0L -> Seq("spark", "engine"), 1L -> Seq("words"),
      2L -> Seq("zzzmissing"))
    def loopTopK(qs: Seq[(Long, Seq[String])]) = qs.map { case (q, ts) =>
      graft.operators.Bm25.score(docs, "doc_id", "text", ts)
        .select(lit(q).as("query_id"), col("doc_id"),
          round(col("bm25"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(3)
    }.reduce(_ unionAll _)
    def manyTopK(qs: Seq[(Long, Seq[String])]) = {
      val terms = qs.flatMap { case (q, ts) => ts.map(t => (q, t)) }
        .toDF("query_id", "term")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      graft.operators.Bm25.scoreMany(docs, "doc_id", "text", terms, padTo = 3)
        .select(col("query_id"), col("doc_id"), round(col("bm25"), 6).as("score"))
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") <= 3).drop("_rn")
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sorted
    // per-query equality, including the all-miss query (zero-score pad)
    assert(rows(manyTopK(qts)) == rows(loopTopK(qts)))
    // one-pass contract: scans don't grow with Q (the loop's do)
    assert(scans(manyTopK(qts.take(1))) == scans(manyTopK(qts)))
    assert(scans(manyTopK(qts)) <= 3)
    assert(scans(loopTopK(qts)) > scans(manyTopK(qts)))
  }

  test("Ann.ivfTopKMany == per-query ivfTopK loop; one corpus scan") {
    val dir = java.nio.file.Files.createTempDirectory("ivfmany").toString
    (0 until 40).map { i =>
      val base = if (i < 20) Array(1.0f, 0.0f) else Array(0.0f, 1.0f)
      (i.toLong, base.map(x => x + (i % 5) * 0.01f))
    }.toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    val vecs = spark.read.parquet(dir)
    val centroids = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val queries = Seq(0L -> Seq(1.0, 0.05), 1L -> Seq(0.1, 1.0))
    val loop = queries.map { case (q, qv) =>
      Ann.ivfTopK(vecs, "vec_id", "embedding", centroids, qv, 5, nprobe = 1)
        .select(lit(q).as("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("score"))
    }.reduce(_ unionAll _)
    val many = Ann.ivfTopKMany(vecs, "vec_id", "embedding", centroids,
        queries, 5, nprobe = 1)
      .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("score"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sorted
    assert(rows(many) == rows(loop))
    assert(scans(many) == 1)
    assert(scans(loop) == queries.size)
  }
}
