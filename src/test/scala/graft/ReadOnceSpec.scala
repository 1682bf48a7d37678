package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.docset.DocSet
import graft.functions.gf
import graft.model.Document
import graft.operators.{Packing, Sampling}

/** The curation and dedup operators read their input once: each input
  * row's upstream plan runs one time per operator call, however many
  * internal branches or eager jobs the operator has. A tap UDF on an input
  * column counts its evaluations in a LongAccumulator; the column is one the
  * operator AND its output read, so column pruning cannot hide a second
  * read. The input is parquet, not a local Seq: a projection over a
  * LocalRelation is folded on the driver at optimisation time and would
  * count plans, not reads. */
class ReadOnceSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  private val n = 120
  private lazy val dir = {
    val p = java.nio.file.Files.createTempDirectory("read-once").toString + "/corpus"
    val s = spark
    import s.implicits._
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu".split(" ")
    (0 until n).map { i =>
      val rnd = new scala.util.Random(i % 40) // every 40th doc repeats: near/exact dups
      val text = Seq.fill(30 + i % 7)(words(rnd.nextInt(words.length)) + rnd.nextInt(4)).mkString(" ")
      (f"d$i%04d", Seq("en", "de", "fr")(i % 3), text)
    }.toDF("doc_id", "lang", "text").repartition(3).write.parquet(p)
    p
  }

  /** The corpus with `column` passed through a counting identity UDF. */
  private def tapped(column: String): (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val acc = spark.sparkContext.longAccumulator(s"tap-$column")
    val tap = udf((s: String) => { acc.add(1L); s })
    (spark.read.parquet(dir).withColumn(column, tap(col(column))), acc)
  }

  private def tokens = gf.tokenCount(col("text"))
  private val budgets = Map("en" -> 400L, "de" -> 2000L, "fr" -> 300L)

  private def readsPerRow(column: String)(op: DataFrame => DataFrame): Double = {
    val (in, acc) = tapped(column)
    val out = op(in).collect()
    assert(out.nonEmpty, "operator returned no rows: the tap proves nothing")
    acc.value.toDouble / n
  }

  private val operators: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("minhashLsh", "text", Dedup.minhashLsh(_, "doc_id", "text", shingleSize = 3)),
    ("decontaminate", "text", d => Dedup.decontaminate(d,
      spark.read.parquet(dir).limit(2), "doc_id", "text", n = 4)),
    ("tokenBudgetMixture", "text", Sampling.tokenBudgetMixture(_, "doc_id", "lang",
      tokens, budgets, "s")),
    ("epochMixture", "text", Sampling.epochMixture(_, "doc_id", "lang",
      tokens, budgets, "s")),
    // the count aggregate reads only the stratum: tap that column
    ("temperatureMixture", "lang", Sampling.temperatureMixture(_, "doc_id", "lang",
      60L, 2, "s")),
    ("packSequences", "text", Packing.packSequences(_, "doc_id", tokens, 64)),
    ("exactRows", "text", Dedup.exactRows(_, "doc_id", "text")),
    ("exactRowsKeepBest", "text", Dedup.exactRowsKeepBest(_, "doc_id", "text",
      length(col("lang")))))

  for ((name, column, op) <- operators)
    test(s"$name evaluates each input row once") {
      assert(readsPerRow(column)(op) == 1.0)
    }

  test("DocSet.sketchDedup evaluates each input row once") {
    // a Document corpus in parquet; the tap sits on textRepresentation,
    // upstream of the typed sketch() map
    val p = java.nio.file.Files.createTempDirectory("read-once-docs").toString + "/docs"
    val corpus = spark.read.parquet(dir).select(col("doc_id"), col("text")).collect()
      .map(r => Document.of(r.getString(0), text = r.getString(1)))
    DocSet.of(spark, corpus.toSeq).toDF.repartition(3).write.parquet(p)
    val acc = spark.sparkContext.longAccumulator("tap-textRepresentation")
    val tap = udf((s: String) => { acc.add(1L); s })
    val docs = spark.read.parquet(p)
      .withColumn("textRepresentation", tap(col("textRepresentation")))
      .as[Document](DocSet.docEnc)
    val out = DocSet.wrap(docs).sketch().sketchDedup().takeAll()
    assert(out.nonEmpty && out.size < n, "no duplicate dropped: the tap proves nothing")
    assert(acc.value.toDouble / n == 1.0)
  }

  test("dedupIncrement evaluates each batch row once") {
    // the whole corpus is the batch; history is a slice of it
    val history = Dedup.fingerprints(spark.read.parquet(dir).where(col("doc_id") < "d0030"),
      "doc_id", "text", shingleSize = 3)
    assert(readsPerRow("text")(Dedup.dedupIncrement(_, "doc_id", "text", history,
      shingleSize = 3)) == 1.0)
  }

  test("packSequences releases its input copy once the staged rows are stored") {
    val sc = spark.sparkContext
    val (in, _) = tapped("text")
    val before = sc.getPersistentRDDs.keySet
    val out = Packing.packSequences(in, "doc_id", tokens, 64)
    // the staged checkpoint stays (out reads it); the input checkpoint is gone
    assert((sc.getPersistentRDDs.keySet -- before).size == 1)
    assert(out.count() == n)
  }

  test("minhashLsh -> decontaminate -> tokenBudgetMixture -> packSequences reads each row once") {
    val reads = readsPerRow("text") { d =>
      val unique = Dedup.minhashLsh(d, "doc_id", "text", shingleSize = 3)
      val clean = Dedup.decontaminate(unique, spark.read.parquet(dir).limit(2),
        "doc_id", "text", n = 4)
      val mixed = Sampling.tokenBudgetMixture(clean, "doc_id", "lang", tokens, budgets, "s")
      Packing.packSequences(mixed, "doc_id", tokens, 64)
    }
    assert(reads == 1.0)
  }
}
