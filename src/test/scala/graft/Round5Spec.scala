package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.operators.{HeavyHitters, Packing, RangeJoin, TfIdf}

/** Round-5 operators: heavy hitters, packing/binning, range join, TF-IDF,
  * SemDeDup. */
class Round5Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkFixture.spark
  import spark.implicits._

  // ----------------------------------------------------------- heavy hitters

  test("MisraGries sketch never loses a true heavy hitter (zipf stream, any partitioning)") {
    // zipf-ish: token k appears ~N/k times
    val rows = (1 to 40).flatMap(k => Seq.fill(2000 / k)(s"tok$k"))
    val rnd = new scala.util.Random(7)
    val shuffled = rnd.shuffle(rows).toDF("token").repartition(7)
    val n = rows.size.toLong
    val cap = 25
    val cands = shuffled.agg(HeavyHitters.misraGries(col("token"), cap))
      .collect()(0).getSeq[String](0).toSet
    val exact = rows.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val mustSurvive = exact.filter(_._2 > n / (cap + 1)).keySet
    assert(mustSurvive.subsetOf(cands),
      s"lost heavy hitters: ${mustSurvive -- cands}")
  }

  test("MisraGries merge law: heavy hitters survive arbitrary splits/merge orders (fuzz)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val tokenGen = Gen.frequency(
      (16, Gen.const("hot")), (8, Gen.const("warm")), (4, Gen.const("mild")),
      (2, Gen.oneOf("c1", "c2", "c3")), (1, Gen.choose(0, 500).map(i => s"t$i")))
    val prop = Prop.forAll(Gen.listOfN(600, tokenGen), Gen.chooseNum(1, 8),
        Gen.chooseNum(2, 12), Gen.chooseNum(0L, Long.MaxValue)) {
      (stream: List[String], pieces: Int, cap: Int, seed: Long) =>
      val agg = graft.functions.MisraGriesAgg(
        BoundReference(0, StringType, nullable = true), cap)
      val rnd = new scala.util.Random(seed)
      // arbitrary partitioning + arbitrary merge order
      val chunks = rnd.shuffle(stream).grouped(
        math.max(1, stream.size / pieces)).toSeq
      val partials = rnd.shuffle(chunks.map { chunk =>
        chunk.foldLeft(agg.createAggregationBuffer()) { (buf, tok) =>
          agg.update(buf, new GenericInternalRow(
            Array[Any](UTF8String.fromString(tok))))
        }
      })
      val merged = partials.reduce(agg.merge)
      val exact = stream.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      val mustSurvive = exact.filter(_._2 > stream.size.toLong / (cap + 1)).keySet
      mustSurvive.subsetOf(merged.keySet)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("MisraGries buffers serialize tokens larger than 64KB (writeUTF limit)") {
    val huge = "x" * 70000
    val docs = Seq((1L, s"$huge $huge $huge common common common common"))
      .toDF("doc_id", "text").repartition(3) // force partial-buffer serialization
    val got = HeavyHitters.topTokens(docs, "text", 0.3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map(huge -> 3L, "common" -> 4L))
  }

  test("topTokens is exact: equals the plain frequency threshold") {
    val docs = Seq(
      (1L, "a a a b c d e"),
      (2L, "a b b f g h"),
      (3L, "a c c c i j k l m n o p q r s t u v w x y z"),
      (4L, "")).toDF("doc_id", "text")
    val got = HeavyHitters.topTokens(docs, "text", 0.08)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val toks = docs.select(explode(graft.functions.gf.tokens(col("text"))).as("t"))
      .where(col("t") =!= "").as[String].collect()
    val exact = toks.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      .filter { case (_, c) => c.toDouble >= toks.size * 0.08 }
    assert(got == exact)
    // tiny capacity still exact (more pass-2 false positives, same output)
    val gotTiny = HeavyHitters.topTokens(docs, "text", 0.08, capacity = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // capacity 2 < 1/0.08 voids the superset guarantee — only check that
    // whatever survives pass 2 has exact counts
    assert(gotTiny.forall { case (t, c) => exact.get(t).contains(c) })
  }

  // ----------------------------------------------------------------- packing

  test("packSequences: partition-independent, spans correct, chunk math right") {
    val docs = (1L to 97L).map(i => (i, "w " * (i % 13).toInt)).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Packing.packSequences(df, "doc_id",
          graft.functions.gf.tokenCount(col("text")), contextLen = 7)
        .select("doc_id", "tok_start", "tok_end", "chunk_start", "chunk_end", "chunk_offset")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1)
    val a = run(docs)
    val b = run(docs.repartition(11))
    assert(a.toSeq == b.toSeq, "packing must not depend on input partitioning")
    // reference computation: sequential cumsum in doc_id order
    var cum = 0L
    val expected = (1L to 97L).map { i =>
      val w = (i % 13).toInt
      val start = cum; cum += w
      val chunkStart = start / 7
      val chunkEnd = if (w > 0) (cum - 1) / 7 else chunkStart
      (i, start, cum, chunkStart, chunkEnd, start % 7)
    }
    assert(a.toSeq == expected)
  }

  test("rankBins: exact decile assignment over a deterministic order") {
    val df = (1L to 100L).map(i => (i, (i * 37) % 101)).toDF("id", "v")
    val got = Packing.rankBins(df, Seq(col("v")), "id", nBins = 10)
      .select("id", "bin").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ranked = (1L to 100L).map(i => (i, (i * 37) % 101)).sortBy { case (id, v) => (v, id) }
    val expected = ranked.zipWithIndex.map { case ((id, _), r) => id -> (r * 10 / 100).toLong }.toMap
    assert(got == expected)
    // every bin holds exactly 10 of the 100 rows
    assert(got.values.groupBy(identity).values.forall(_.size == 10))
  }

  // --------------------------------------------------------------- range join

  test("band join equals the naive quadratic filter, boundary inclusive") {
    val rnd = new scala.util.Random(13)
    val left = (1 to 80).map(i => (i.toLong, i.toLong % 3, rnd.nextInt(1000).toDouble))
      .toDF("lid", "k", "lt")
    val right = (1 to 80).map(i => (i.toLong + 100, i.toLong % 3, rnd.nextInt(1000).toDouble))
      .toDF("rid", "k", "rt")
    val got = RangeJoin.band(left, right, "lt", "rt", width = 50.0, keys = Seq("k"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val naive = left.join(right, "k")
      .where(abs(col("lt") - col("rt")) <= 50.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == naive)
    // exact-boundary pair survives
    val l2 = Seq((1L, 0L, 100.0)).toDF("lid", "k", "lt")
    val r2 = Seq((2L, 0L, 150.0)).toDF("rid", "k", "rt")
    assert(RangeJoin.band(l2, r2, "lt", "rt", 50.0, Seq("k")).count() == 1)
  }

  // -------------------------------------------------------------------- tfidf

  test("TfIdf.topTerms: rare terms outrank common ones, k respected") {
    val docs = Seq(
      (1L, "common rare1 common common"),
      (2L, "common rare2 rare2"),
      (3L, "common other")).toDF("doc_id", "text")
    val out = TfIdf.topTerms(docs, "doc_id", "text", 2)
      .select("doc_id", "term").as[(Long, String)].collect().groupBy(_._1)
    assert(out(1L).map(_._2).toSet.contains("rare1"))
    assert(out(2L).map(_._2).head == "rare2") // tf=2 on a df=1 term wins
    assert(out.values.forall(_.length <= 2))
    // "common" (df=3) scores below the doc-unique terms everywhere it competes
    val doc2Terms = TfIdf.topTerms(docs, "doc_id", "text", 1)
      .where(col("doc_id") === 2L).select("term").as[String].collect()
    assert(doc2Terms.sameElements(Array("rare2")))
  }

  test("capPerGroup: exactly k per group, partition-independent, salt-sensitive") {
    import graft.operators.Sampling
    val df = (1L to 400L).map(i => (i, s"g${i % 5}")).toDF("id", "g")
    val a = Sampling.capPerGroup(df, "id", "g", k = 7, salt = "s1")
      .select("id").as[Long].collect().toSet
    assert(a.size == 35)
    val byGroup = Sampling.capPerGroup(df, "id", "g", 7, "s1")
      .groupBy("g").count().as[(String, Long)].collect().toMap
    assert(byGroup.values.forall(_ == 7))
    val b = Sampling.capPerGroup(df.repartition(17), "id", "g", 7, "s1")
      .select("id").as[Long].collect().toSet
    assert(a == b, "selection must not depend on partitioning")
    val c = Sampling.capPerGroup(df, "id", "g", 7, "other")
      .select("id").as[Long].collect().toSet
    assert(a != c, "different salts should select different rows")
  }

  test("stratifiedByHash rounds the 1/10000 quantization (0.35 -> 3500 buckets)") {
    import graft.operators.Sampling
    val df = (1L to 5000L).map(i => (i, "s")).toDF("id", "g")
    val got = Sampling.stratifiedByHash(df, "id", "g", Map("s" -> 0.35), "q")
      .select("id").as[Long].collect().toSet
    // the documented cutoff, reproduced manually: bucket < round(0.35*10000)
    val k = col("id").cast("string")
    val bucket = pmod(graft.functions.gf.polyFingerprint(
      concat(k, lit(":"), lit("q"), lit(":"), k)), lit(10000L))
    val manual = df.where(bucket < 3500).select("id").as[Long].collect().toSet
    assert(got == manual, "truncation would cut bucket 3499")
  }

  test("asofBackward works when the right side carries a map column") {
    import graft.operators.AsofJoin
    val left = Seq((1L, 10.0), (1L, 20.0)).toDF("k", "t")
    val right = Seq((1L, 5.0, Map("a" -> "1")), (1L, 15.0, Map("b" -> "2")))
      .toDF("k", "t", "meta")
    val out = AsofJoin.asofBackward(left, right, "k", "t")
      .select(col("t"), col("asof_t")).as[(Double, Double)].collect().toMap
    assert(out == Map(10.0 -> 5.0, 20.0 -> 15.0))
  }

  test("AsyncLlmClient surfaces the underlying exception type, not ExecutionException") {
    import graft.llm.{AsyncLlmClient, LlmClient}
    class Boom extends RuntimeException("boom")
    val failing = new LlmClient {
      override def generate(p: String): String = throw new Boom
    }
    val async = new AsyncLlmClient(failing, concurrency = 2)
    intercept[Boom](async.generateBatch(Seq("a", "b")))
  }

  // ------------------------------------------------------------ skew join

  test("salted join equals plain join and spreads the hot key across salts") {
    import graft.operators.SkewJoin
    // 90% of left rows carry one hot key
    val left = (1L to 1000L).map(i => (i, if (i % 10 == 0) i % 7 else 999L))
      .toDF("row_id", "k")
    val right = (0L to 6L).map(k => (k, s"dim$k")).toDF("k", "v")
      .unionAll(Seq((999L, "hot")).toDF("k", "v"))
    val plain = left.join(right, "k").select("row_id", "v")
      .as[(Long, String)].collect().toSet
    for (jt <- Seq("inner", "left", "left_semi")) {
      val salted = SkewJoin.salted(left, right, Seq("k"), saltFactor = 8, joinType = jt)
      val saltedSet =
        if (jt == "left_semi") salted.select("row_id").as[Long].collect().toSet
        else salted.select("row_id", "v").as[(Long, String)].collect().toSet
      val plainSet =
        if (jt == "left_semi") plain.map(_._1)
        else plain
      assert(saltedSet == plainSet, s"joinType=$jt")
    }
    // the hot key's left rows actually scatter over multiple salts
    val salts = left.where(col("k") === 999L)
      .withColumn("_salt", pmod(xxhash64(monotonically_increasing_id()), lit(8L)))
      .select("_salt").distinct().count()
    assert(salts > 4, s"hot key used only $salts salt buckets")
    // outer-right types are rejected (right rows are replicated)
    intercept[IllegalArgumentException] {
      SkewJoin.salted(left, right, Seq("k"), 8, joinType = "full_outer")
    }
  }

  // ------------------------------------------------------------- mixture

  test("tokenBudgetMixture derives fractions from token mass; unbudgeted strata drop") {
    import graft.operators.Sampling
    val docs = (1L to 300L).map { i =>
      val lang = if (i % 3 == 0) "big" else if (i % 3 == 1) "small" else "nobudget"
      (i, lang, "w " * 10)
    }.toDF("id", "lang", "text")
    val tokens = graft.functions.gf.tokenCount(col("text"))
    // "big" has 1000 tokens -> budget 250 = fraction .25; "small" fraction 1
    val out = Sampling.tokenBudgetMixture(docs, "id", "lang", tokens,
      Map("big" -> 250L, "small" -> 2000L), salt = "t")
    val kept = out.select("id", "lang").as[(Long, String)].collect()
    assert(!kept.exists(_._2 == "nobudget"))
    assert(kept.count(_._2 == "small") == 100, "under-budget stratum keeps everything")
    // the kept "big" rows are exactly those passing the hash rule at .25
    val expectBig = Sampling.stratifiedByHash(
        docs.where(col("lang") === "big"), "id", "lang", Map("big" -> 0.25), "t")
      .select("id").as[Long].collect().toSet
    assert(kept.filter(_._2 == "big").map(_._1).toSet == expectBig)
    // determinism under repartitioning
    val kept2 = Sampling.tokenBudgetMixture(docs.repartition(13), "id", "lang",
        tokens, Map("big" -> 250L, "small" -> 2000L), salt = "t")
      .select("id").as[Long].collect().toSet
    assert(kept2 == kept.map(_._1).toSet)
  }

  // -------------------------------------------------------- bloom decontam

  test("decontaminateBloom output is identical to exact decontaminate") {
    val rnd = new scala.util.Random(29)
    val words = "red green blue cyan teal plum gray pink gold jade".split(" ")
    val docs = (0L until 200L).map { i =>
      (i, Seq.fill(12)(words(rnd.nextInt(words.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val corpus = docs.where(col("doc_id") % 7 =!= 0)
    val bench = docs.where(col("doc_id") % 7 === 0)
    val exact = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    // tight fpp AND a sloppy 20% fpp must both match exactly — the verify
    // pass, not the filter, owns correctness
    for (fpp <- Seq(0.001, 0.2)) {
      val bloom = Dedup.decontaminateBloom(corpus, bench, "doc_id", "text",
          n = 3, fpp = fpp)
        .select("doc_id").as[Long].collect().toSet
      assert(bloom == exact, s"fpp=$fpp")
    }
  }

  test("BloomMightContainExpr has no false negatives") {
    val members = (1 to 500).map(i => s"item$i")
    val df = members.toDF("s")
    val bf = df.stat.bloomFilter("s", 500, 0.03)
    val mc = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.BloomMightContainExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("s")), bf))
    assert(df.where(mc).count() == 500)
  }

  // ----------------------------------------------------- compression ratio

  test("compressionRatio: repetitive text compresses below prose, junk near 1") {
    import graft.functions.gf
    val prose =
      "the quick brown fox jumps over the lazy dog while a patient cat watches " +
      "from the garden wall and considers whether the morning light will hold " +
      "long enough for one more nap before the neighbors return with their loud " +
      "car and louder children who chase every bird out of the hedge and then " +
      "complain that the garden is empty of anything interesting to watch"
    val rows = Seq(
      (1L, prose),
      (2L, "spam spam spam spam spam spam spam spam spam spam spam spam spam spam"),
      (3L, new scala.util.Random(1).alphanumeric.take(400).mkString),
      (4L, "")).toDF("id", "text")
    val r = rows.select(col("id"), gf.compressionRatio(col("text")).as("cr"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(2L) < r(1L), "repetition must compress better than prose")
    assert(r(1L) < r(3L), "prose must compress better than random junk")
    assert(r(3L) > 0.6, s"incompressible junk should sit high, got ${r(3L)}")
    assert(r(4L) == 0.0)
    // deterministic across partitionings / re-evaluation
    val again = rows.repartition(3)
      .select(col("id"), gf.compressionRatio(col("text")).as("cr"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(again == r)
  }

  // ------------------------------------------------------------ plan shapes

  test("plan shapes: scans, group limits, and join strategies are the intended ones") {
    import graft.operators.{Packing, RangeJoin, Sampling, TfIdf}
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val docs = (1L to 50L).map(i => (i, s"w$i x y z")).toDF("doc_id", "text")

    // TfIdf: the corpus is scanned once (the zero-column count branch reads
    // no data); document frequency comes from a partial+final AGGREGATE and
    // a join back on term — never a term-partitioned window, which would
    // funnel every row of a hot term into one unsplittable task (the
    // aggregate map-side-combines the hot key; the join AQE can skew-split)
    val tp = plan(TfIdf.topTerms(docs, "doc_id", "text", 2))
    assert(tp.contains("WindowGroupLimit"), "top-k must compile to a group limit")
    assert(!tp.contains("windowspecdefinition(term"),
      s"df must not be a term-partitioned window (hot-key funnel):\n$tp")
    assert(tp.contains("HashAggregate(keys=[term"),
      s"df must be a map-side-combining aggregate on term:\n$tp")

    // capPerGroup also rides WindowGroupLimit (k rows per group pre-shuffle)
    val cp = plan(Sampling.capPerGroup(docs, "doc_id", "text", 3))
    assert(cp.contains("WindowGroupLimit"))

    // band join must not degrade to a nested-loop join
    val l = Seq((1L, 10.0)).toDF("lid", "lt")
    val r = Seq((2L, 12.0)).toDF("rid", "rt")
    val bp = plan(RangeJoin.band(l, r, "lt", "rt", 5.0))
    assert(!bp.contains("BroadcastNestedLoopJoin"),
      s"band join planned as nested loop:\n$bp")

    // heavy-hitters pass 2 is join-free: candidate membership is an InSet
    val hp = plan(graft.operators.HeavyHitters.topTokens(docs, "text", 0.01))
    assert(!hp.contains("Join"), s"recount pass must not join:\n$hp")

    // lexical diversity is two keyed aggregates, never a window — a hot
    // document must spread across partitions in the (doc, token) phase
    val lp = plan(graft.operators.CorpusStats.lexicalDiversity(docs, "doc_id", "text"))
    assert(!lp.contains("windowspecdefinition"),
      s"lexical diversity must not window:\n$lp")
    assert(lp.contains("HashAggregate(keys=[doc_id"),
      s"per-doc aggregate expected:\n$lp")

    // round-10 map-only scorers must stay shuffle-free: repetition stats,
    // DSIR scoring, classifier margin are pure row maps
    val rp = plan(docs.select(col("doc_id"),
      graft.functions.gf.repetitionKeepText(col("text"))))
    assert(!rp.contains("Exchange"), s"A1.2 keep must not shuffle:\n$rp")
    val dp = plan(graft.operators.Dsir.scoreMicros(docs, "text", Array.fill(64)(1L)))
    assert(!dp.contains("Exchange"), s"DSIR scoring must not shuffle:\n$dp")
    val qp = plan(graft.operators.QualityClassifier.marginMicros(
      docs, "text", Array.fill(64)(1L), 0L))
    assert(!qp.contains("Exchange"), s"classifier margin must not shuffle:\n$qp")

    // SQ8 top-k: a TakeOrdered scan, no shuffle, no full sort
    val vecs = (1L to 30L).map(i => (i, Seq.tabulate(8)(d => (i + d).toDouble)))
      .toDF("vec_id", "embedding")
    val (mn, mx) = graft.ann.Ann.sq8Train(vecs, "embedding")
    val sp = plan(graft.ann.Ann.sq8TopK(
      vecs.withColumn("codes", graft.ann.Ann.sq8Encode(col("embedding"), mn, mx)),
      "vec_id", "codes", Array.fill(8)(1L), 5))
    assert(sp.contains("TakeOrderedAndProject"), s"sq8 top-k must TakeOrdered:\n$sp")
    assert(!sp.contains("Exchange"), s"sq8 top-k must not shuffle:\n$sp")

    // round-13 shapes: the skew audit's top-k is a TakeOrdered over the
    // key aggregate (never a full sort); k-fold assignment is row-local
    // (zero exchange); the rolling features run ONE key-partitioned window
    val docs13 = docs
      .withColumn("source", concat(lit("s"), (col("doc_id") % 3).cast("string")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val kp = plan(graft.operators.Profiler.keySkew(docs13, col("source"), 5))
    assert(kp.contains("TakeOrderedAndProject"), s"keySkew must TakeOrdered:\n$kp")
    val fp = plan(graft.operators.Sampling.kFold(docs13, "doc_id", 5, "s"))
    assert(!fp.contains("Exchange"), s"kFold must not shuffle:\n$fp")
    val wp = plan(graft.operators.EventAnalytics.rollingByKey(
      docs13.select(col("source"), col("doc_id").as("ts"), col("n_chars")),
      "source", "ts", col("n_chars"), 100L))
    assert(wp.contains("windowspecdefinition(source"),
      s"rolling window must partition by the key:\n$wp")
  }

  test("clusteringCoefficient computes the degree table exactly once") {
    import graft.operators.Triangles
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val edges = (1L to 40L).flatMap(i => Seq((i, i % 7 + 100L), (i, i % 5 + 200L)))
      .toDF("s", "d")

    // Orientation given a precomputed degree frame must not re-aggregate —
    // the clustering coefficient threads one checkpointed degree table into
    // both the orientation joins and the final coefficient join.
    val e = Triangles.canonical(edges, "s", "d").localCheckpoint()
    val deg = Triangles.degrees(e).localCheckpoint()
    val op = plan(Triangles.orientFrom(e, deg))
    assert(!op.contains("HashAggregate"),
      s"orientation must reuse the precomputed degree frame, not re-aggregate:\n$op")

    // The full operator's final plan: the only aggregate left is the
    // per-vertex triangle count — no second degree aggregate (keys=[_v)
    // and no re-canonicalization of the edge list.
    val cc = Triangles.clusteringCoefficient(edges, "s", "d")
    val cp = plan(cc)
    assert(!cp.contains("keys=[_v"),
      s"final plan must not recompute degrees:\n$cp")
    assert(cp.contains("HashAggregate(keys=[node"),
      s"triangle-count aggregate expected in final plan:\n$cp")
    assert(cc.count() > 0)
  }

  // ----------------------------------------------------------------- semdedup

  test("semDedup drops exactly the greedy min-id within-cluster near-dups") {
    // two well-separated clusters; within each, vecs 0/1 are near-identical
    def v(base: Array[Double], eps: Double): Array[Double] =
      base.zipWithIndex.map { case (x, i) => x + (if (i == 0) eps else 0.0) }
    val c1 = Array(10.0, 0.0, 0.0)
    val c2 = Array(0.0, 10.0, 0.0)
    val rows = Seq(
      (1L, v(c1, 0.0)), (2L, v(c1, 0.1)),   // near-dup pair in cluster 1
      (3L, Array(5.0, 0.0, 8.0)),            // cluster 1, far from 1/2
      (4L, v(c2, 0.0)), (5L, v(c2, 0.2)))    // near-dup pair in cluster 2
      .toDF("id", "vec")
    val centroids = Array(c1, c2)
    val kept = Dedup.semDedup(rows, "id", "vec", centroids, threshold = 0.95)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
  }
}
