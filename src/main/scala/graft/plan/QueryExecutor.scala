package graft.plan

import graft.Stored
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.docset.{DocSet, GroupedDocSet}
import graft.llm.LlmClient
import graft.sources.DocRead

/** Runtime value flowing between plan nodes (reference: the executor passes
  * DocSets, GroupedData, numbers and strings between physical operators). */
sealed trait QValue
final case class QDocs(ds: DocSet) extends QValue
final case class QGroupedV(g: GroupedDocSet) extends QValue
final case class QNumV(v: Double) extends QValue
final case class QStrV(s: String) extends QValue

/**
 * Executes a QPlan by lowering each node onto a DocSet/Spark pipeline
 * (reference: query/execution/sycamore_executor.py:347 — recursive
 * post-order process_node with per-node materialize caching, and
 * sycamore_operator.py:45-1053 for the per-operator lowering).
 *
 * Spark-first notes:
 *  - the whole DocSet chain stays LAZY: one Catalyst plan per result, so
 *    filters still push into the scan across node boundaries;
 *  - per-node caching writes parquet at cacheDir/<subtree-sha256> and is
 *    disabled for subtrees containing Sort (parquet read-back loses order —
 *    same rule as the reference, sycamore_executor.py:127);
 *  - QueryDatabase's filter DSL becomes a Column predicate on the raw
 *    DataFrame before Document conversion, so it lands in PushedFilters.
 *
 * @param tables resolves a QueryDatabase `index` name to a DataFrame
 *               (e.g. parquet table under a data dir).
 * @param cacheEpoch caller-asserted data version for sources WITHOUT a file
 *                   fingerprint (in-memory/view tables). Default None =
 *                   refuse-to-cache such subtrees (honest > fast-and-stale);
 *                   setting it opts back into caching, keyed by the epoch —
 *                   the caller owns bumping it when the view's data changes.
 */
final class QueryExecutor(spark: SparkSession, llm: LlmClient,
                          tables: String => DataFrame,
                          cacheDir: Option[String] = None,
                          summarizeMaxDocs: Int = 100,
                          embedder: graft.embed.Embedder = new graft.embed.HashEmbedder(),
                          cacheEpoch: Option[String] = None) {

  // Cache telemetry (reference logs per-node cache events,
  // sycamore_executor.py): cumulative across execute() calls on this
  // executor — a hit means a node's subtree result was read back from
  // cacheDir instead of recomputed.
  private val hits = new java.util.concurrent.atomic.AtomicLong
  private val misses = new java.util.concurrent.atomic.AtomicLong
  def cacheHits: Long = hits.get
  def cacheMisses: Long = misses.get

  /** Only the EXPENSIVE eager operators cache — LLM-per-row work and ML
    * fits, the operators whose recomputation costs real money/minutes.
    * Scans/filters/relational nodes must NOT: materializing a raw
    * QueryDatabase scan copies the whole table to cacheDir per distinct
    * plan prefix AND severs Catalyst pushdown for everything above it
    * (downstream reads the copy, not the pruned original scan). */
  private def cacheableOp(n: QNode): Boolean = n match {
    case _: QLlmFilter | _: QLlmExtractEntity | _: QLLMClustering |
         _: QKMeanClustering => true
    case _ => false
  }

  /** Cache path = plan content hash + a fingerprint of the SOURCE DATA
    * under the subtree (sorted `inputFiles` of every referenced table /
    * loader path — parquet rewrites always change part-file names). A
    * purely plan-derived key would keep serving stale results after a
    * table is re-ingested. Fingerprints are metadata-only (driver file
    * index, no scan) and memoized per executor.
    *
    * REFUSE-TO-CACHE when no fingerprint exists: an in-memory/view-backed
    * table has no file list, so a stable-empty fallback would let the
    * table change without invalidating the cache — such subtrees return
    * None here and are recomputed every run (honest > fast-and-stale). */
  private val sourceFps = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def cachePath(dir: String, plan: QPlan, id: Int): Option[String] =
    sourceFingerprint(plan, id).map(fp => s"$dir/${plan.cacheKey(id)}-$fp")

  private def sha16(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }

  private def sourceFingerprint(plan: QPlan, id: Int): Option[String] = {
    // empty inputFiles is as fingerprint-less as an exception: a LocalRelation
    // / view-backed frame legitimately reports zero files
    def filesOf(df: => DataFrame): Option[String] =
      try Some(df.inputFiles).filter(_.nonEmpty).map(f => f.sorted.mkString("\n"))
      catch { case scala.util.control.NonFatal(_) => None }
    val sources = scala.collection.mutable.SortedSet.empty[String]
    def walk(i: Int): Unit = {
      plan.node(i) match {
        case q: QQueryDatabase       => sources += s"t:${q.index}"
        case q: QQueryVectorDatabase => sources += s"t:${q.index}"
        case d: QDataLoader          => sources += s"p:${d.path}"
        case _ =>
      }
      plan.node(i).inputs.foreach(walk)
    }
    walk(id)
    val parts = sources.toSeq.map { s =>
      // computeIfAbsent never stores null, so a fingerprint-less source is
      // re-probed each call (cheap: driver metadata) instead of poisoning
      // the memo with a sentinel
      Option(sourceFps.computeIfAbsent(s, _ =>
        (if (s.startsWith("t:")) filesOf(tables(s.drop(2)))
         else filesOf(spark.read.parquet(s.drop(2)))).map(sha16).orNull))
        // the caller-asserted epoch stands in for a missing file
        // fingerprint (never memoized — the caller may hand a new epoch
        // to the next executor over the same cacheDir)
        .orElse(cacheEpoch.map(e => sha16(s"epoch:$e")))
    }
    if (parts.exists(_.isEmpty)) None
    else Some(sha16(parts.flatten.mkString(",")))
  }

  def execute(plan: QPlan): QValue = {
    plan.validate()
    val memo = scala.collection.mutable.Map[Int, (QValue, Boolean)]()
    // downstream-consumer counts: a node referenced by >1 consumer is only
    // memoized as a LAZY DocSet — each consumer's Spark ACTION would
    // re-execute the whole subtree (LLM operators would bill twice, and a
    // nondeterministic LLM could make the consumers disagree within one
    // answer), so such nodes are stored below
    val refCount: Map[Int, Int] = plan.nodes.values.flatMap(_.inputs).toSeq
      .groupBy(identity).map { case (id, xs) => id -> xs.size }

    // (value, subtreeHasSort). Explicit check-then-insert, NOT
    // getOrElseUpdate: the default closure recurses into rec, and mutating
    // a mutable HashMap while its getOrElseUpdate is in flight is unsafe.
    def rec(id: Int): (QValue, Boolean) = memo.get(id) match {
      case Some(v) => v
      case None =>
        val n = plan.node(id)
        // cache-hit short circuit BEFORE recursing into the subtree: the
        // cache exists for exactly the expensive eager operators (kmeans
        // fits, driver-side LLM clustering) — evaluating first would
        // re-run them and discard the result (the reference checks its
        // cache before process_node recursion). A marker only ever exists
        // for nodes a prior run wrote under the no-sort-below guard, so
        // trusting it preserves the ordering rule; read-back is unordered,
        // hence sortBelow = false.
        val hitValue = cacheDir.flatMap { dir =>
          if (!cacheableOp(n)) None
          else cachePath(dir, plan, id).flatMap { path =>
            val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
            val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (fs.exists(marker)) {
              hits.incrementAndGet()
              Some((QDocs(DocRead.materialized(spark, path)): QValue, false))
            } else None
          }
        }
        hitValue match {
          case Some(v) =>
            memo(id) = v
            v
          case None => recompute(id, n)
        }
    }

    def recompute(id: Int, n: QNode): (QValue, Boolean) = {
        val ins = n.inputs.map(rec)
        // ordered-output nodes must not round-trip through the parquet
        // cache (read-back loses row order): Sort, but also TopK and the
        // score-ordered vector retrieval
        val sortBelow = n.isInstanceOf[QSort] || n.isInstanceOf[QTopK] ||
          n.isInstanceOf[QQueryVectorDatabase] || ins.exists(_._2)
        val value = eval(plan, n, ins.map(_._1))
        val cached = (value, cacheDir) match {
          case (QDocs(ds), Some(dir)) if !sortBelow && cacheableOp(n) &&
              cachePath(dir, plan, id).isDefined =>
            val path = cachePath(dir, plan, id).get
            // Hadoop FS, not java.io: cacheDir may be hdfs://, s3a://, ...
            // (the hit path short-circuited above, so this is a miss)
            val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
            val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (fs.exists(marker)) hits.incrementAndGet()
            else {
              misses.incrementAndGet()
              // write-to-temp + atomic rename: two executors sharing a
              // cacheDir must not interleave part-files under one key (the
              // bare writeParquet path is check-then-write); whoever renames
              // first wins, the loser discards its temp and reads the winner
              val tmp = s"$path.tmp-${java.util.UUID.randomUUID().toString.take(8)}"
              ds.writeParquet(tmp)
              QueryExecutor.atomicPublish(fs, new org.apache.hadoop.fs.Path(tmp),
                new org.apache.hadoop.fs.Path(path))
            }
            QDocs(DocRead.materialized(spark, path))
          case (QDocs(ds), _) if refCount.getOrElse(id, 0) > 1 =>
            // shared subtree: stored so the consumers' separate actions
            // compute it once
            QDocs(DocSet.wrap(Stored.once(ds.ds)))
          case _ => value
        }
        val out = (cached, sortBelow)
        memo(id) = out
        out
    }

    rec(plan.resultNode)._1
  }

  // ------------------------------------------------------------- lowering

  private def eval(plan: QPlan, n: QNode, ins: Seq[QValue]): QValue = n match {
    case QDataLoader(_, _, _, path) =>
      QDocs(docsFrom(spark.read.parquet(path)))

    case QQueryDatabase(_, _, _, index, query) =>
      val df = tables(index)
      QDocs(docsFrom(query.map(q => df.where(Dsl.predicate(q))).getOrElse(df)))

    case QQueryVectorDatabase(_, _, _, index, phrase, k) =>
      // embed the phrase, top-k by cosine over the table's embedding column
      // (scan + TakeOrderedAndProject — no shuffle of the corpus). The
      // row-content hash tie-break makes the k-boundary deterministic when
      // scores tie exactly — bare orderBy(desc(score)).limit(k) would break
      // ties by partition order, which is not contractual across re-runs.
      val df = tables(index)
      val qv = embedder.embed(Seq(phrase)).head.map(_.toDouble).toSeq
      // tie-break hash: xxhash64 consumes structs/arrays natively (the
      // shuffle-hash machinery) — no per-row JSON materialization in the
      // scan; map-typed columns are the one thing it refuses, so those
      // few route through to_json
      def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
        case _: org.apache.spark.sql.types.MapType => true
        case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMap(f.dataType))
        case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
        case _ => false
      }
      val tieCols = df.schema.fields.map { f =>
        if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
      }
      val top = df
        .withColumn("__score",
          graft.functions.gf.cosineSimilarity(col("embedding"), graft.ann.Ann.vecLit(qv)))
        .orderBy(desc("__score"), xxhash64(tieCols: _*))
        .limit(k)
        .drop("__score")
      QDocs(docsFrom(top))

    case QBasicFilter(_, _, _, field, rangeFilter, query, start, end, isDate) =>
      val ds = docs(ins.head)
      val key = DocSet.fieldCol(field)
      val pred =
        if (rangeFilter) rangePredicate(key, start, end, isDate)
        else matchPredicate(key, query.getOrElse(
          throw new IllegalArgumentException("match filter needs `query`")))
      QDocs(DocSet.wrap(ds.toDF.where(pred).as[graft.model.Document](DocSet.docEnc)))

    case QLlmFilter(_, _, _, field, question) =>
      QDocs(docs(ins.head).llmFilter(llm,
        s"$question\nValue: {$field}\nRate 0-5 and answer with the number only.",
        threshold = 3))

    case QLlmExtractEntity(_, _, _, question, field, newField, newFieldType) =>
      QDocs(docs(ins.head).llmMap(llm,
        s"$question\nExtract a $newFieldType from: {$field}\nAnswer with the value only.",
        s"properties.$newField"))

    case QCount(_, _, _, distinctField) =>
      val ds = docs(ins.head)
      QNumV(distinctField.map(ds.countDistinct).getOrElse(ds.count()).toDouble)

    case QSort(_, _, _, field, descending, defaultValue) =>
      QDocs(docs(ins.head).sort(descending, field, defaultValue.map(Dsl.scalarString)))

    case QLimit(_, _, _, numRecords) =>
      QDocs(docs(ins.head).limit(numRecords))

    case QTopK(_, _, _, field, primaryField, k, descending, llmCluster, instruction) =>
      QDocs(docs(ins.head).topK(field, k.getOrElse(-1), descending, primaryField,
        llmCluster, Some(llm), instruction))

    case QFieldIn(_, _, _, fieldOne, fieldTwo) =>
      QDocs(docs(ins(0)).fieldIn(docs(ins(1)), fieldOne, fieldTwo))

    case QGroupBy(_, _, _, field) =>
      QGroupedV(docs(ins.head).groupby(_.fieldToValue(field).getOrElse("")))

    case QAggregateCount(_, _, _) =>
      QDocs(grouped(ins.head).count())

    case QAggregateCollect(_, _, _) =>
      QDocs(grouped(ins.head).collect())

    case QKMeanClustering(_, _, _, field, newField, k) =>
      // `field` names the property whose VALUE is embedded for clustering
      // (reference sycamore_operator.py:746 sets embedder.embed_name to
      // it); absent -> cluster on the existing document embedding. It was
      // previously parsed and cache-keyed but silently ignored.
      val ds0 = docs(ins.head)
      val ds = field.fold(ds0) { f =>
        val emb = embedder
        ds0.mapBatch { it =>
          it.grouped(64).flatMap { batch =>
            val vecs = emb.embed(batch.map(_.fieldToValue(f).getOrElse("")))
            require(vecs.size == batch.size,
              s"embedder returned ${vecs.size} vectors for ${batch.size} values")
            batch.zip(vecs).map { case (d, v) => d.copy(embedding = Some(v)) }
          }
        }
      }
      val centroids = ds.kmeans(k.getOrElse(5))
      QDocs(ds.clustering(centroids, newField))

    case QLLMClustering(_, _, _, field, newField, instruction) =>
      QDocs(docs(ins.head).llmClusterEntity(llm, instruction.getOrElse(""), field,
        s"properties.$newField"))

    case QUnroll(_, _, _, field) =>
      QDocs(docs(ins.head).unroll(field))

    case QMath(_, _, _, op) =>
      val (a, b) = (num(ins(0)), num(ins(1)))
      QNumV(op match {
        case "add"      => a + b
        case "subtract" => a - b
        case "multiply" => a * b
        case "divide"   => if (b == 0.0) Double.NaN else a / b
        case other => throw new IllegalArgumentException(s"invalid math operator $other")
      })

    case QSummarizeData(_, _, _, question) =>
      QStrV(summarizeData(question, ins))
  }

  // ----------------------------------------------------- filter semantics
  // (reference: functions/basic_filters.py — MatchFilter substring-matches
  //  strings case-insensitively, equality for numbers; RangeFilter is
  //  inclusive with optional date coercion)

  /** try_cast wrapper: ANSI mode makes plain casts THROW on malformed
    * strings; a filter must treat non-castable values as non-matching. */
  private def tryCast(c: Column, to: String): Column = {
    val e = org.apache.spark.sql.graft.ColumnBridge.expression(c)
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.Cast(
        e, org.apache.spark.sql.types.DataType.fromDDL(to), None,
        org.apache.spark.sql.catalyst.expressions.EvalMode.TRY))
  }

  private def matchPredicate(key: Column, query: JValue): Column = query match {
    // Locale.ROOT: a tr_TR driver JVM would lowercase "TITLE" to dotless
    // "tıtle" and never match the column side's locale-agnostic lower()
    case JString(s) =>
      lower(key.cast("string")).contains(s.toLowerCase(java.util.Locale.ROOT))
    case JInt(v)    => tryCast(key, "double") === v.toDouble
    case JLong(v)   => tryCast(key, "double") === v.toDouble
    case JDouble(v) => tryCast(key, "double") === v
    case JBool(v)   => tryCast(key, "boolean") === v
    case other => throw new IllegalArgumentException(s"unsupported match query: $other")
  }

  private def rangePredicate(key: Column, start: Option[JValue], end: Option[JValue],
                             isDate: Boolean): Column = {
    def side(v: JValue): (Column, Column) = v match {
      // try_to_timestamp on the DATA side: ANSI mode makes to_timestamp throw
      // on one malformed property value; a filter must treat it as
      // non-matching (null), same contract as tryCast below. The literal
      // bound stays strict — a malformed PLAN should fail loudly.
      case JString(s) if isDate => (try_to_timestamp(key.cast("string")), to_timestamp(lit(s)))
      case JString(s) => (key.cast("string"), lit(s))
      case JInt(x)    => (tryCast(key, "double"), lit(x.toDouble))
      case JLong(x)   => (tryCast(key, "double"), lit(x.toDouble))
      case JDouble(x) => (tryCast(key, "double"), lit(x))
      case other => throw new IllegalArgumentException(s"unsupported range bound: $other")
    }
    val lo = start.map { v => val (k, b) = side(v); k >= b }
    val hi = end.map { v => val (k, b) = side(v); k <= b }
    (lo, hi) match {
      case (Some(l), Some(h)) => l && h
      case (Some(l), None)    => l
      case (None, Some(h))    => h
      case (None, None) =>
        throw new IllegalArgumentException("range filter needs start and/or end")
    }
  }

  // ------------------------------------------------------ answer synthesis

  /** Collect-limited docs + scalars -> one driver LLM call (reference:
    * query/execution/operations.py summarize_data — the final answer is a
    * driver-side LLM synthesis by design; doc order fixed by doc_id sort). */
  private def summarizeData(question: String, ins: Seq[QValue]): String = {
    val parts = ins.zipWithIndex.map {
      case (QDocs(ds), i) =>
        val sample = ds.toDF
          .select(col("docId"),
            coalesce(col("textRepresentation"), to_json(col("properties"))).as("t"))
          .orderBy(col("docId")).limit(summarizeMaxDocs)
          .collect().map(r => r.getString(1))
        s"Input ${i + 1} (documents):\n" + sample.mkString("\n")
      case (QNumV(v), i) =>
        val rendered = if (v.isWhole) v.toLong.toString else v.toString
        s"Input ${i + 1}: $rendered"
      case (QStrV(s), i) => s"Input ${i + 1}: $s"
      case (QGroupedV(_), i) => s"Input ${i + 1}: <grouped data>"
    }
    llm.generate(s"Answer the question using the data below.\nQuestion: $question\n" +
      parts.mkString("\n"))
  }

  // --------------------------------------------------------------- helpers

  /** Table-to-document mapping contract: a column literally named `text`
    * becomes textRepresentation (everything else rides as string
    * properties). Operators addressing `text_representation` — including
    * the RemoveVectorSearchForAnalytics rewrite's LlmFilter, same field
    * the reference strategy hardcodes (strategy.py:148) — therefore
    * require the table to expose its content under `text`; tables using
    * another name should be aliased by the `tables` callback. */
  private def docsFrom(df: DataFrame): DocSet = {
    val cols = df.schema.fieldNames.toSet
    DocRead.fromDataFrame(df,
      docIdField = if (cols.contains("doc_id")) Some("doc_id") else None,
      textField = if (cols.contains("text")) Some("text") else None)
  }

  private def docs(v: QValue): DocSet = v match {
    case QDocs(ds) => ds
    case other => throw new IllegalArgumentException(s"expected a docset, got $other")
  }
  private def grouped(v: QValue): GroupedDocSet = v match {
    case QGroupedV(g) => g
    case other => throw new IllegalArgumentException(s"expected grouped data, got $other")
  }
  private def num(v: QValue): Double = v match {
    case QNumV(d) => d
    case other => throw new IllegalArgumentException(s"expected a number, got $other")
  }
}

object QueryExecutor {
  /** Publish a completed cache write: rename `tmp` to `dst` in one FS call
    * (atomic on HDFS and posix-local; the strongest primitive a generic
    * Hadoop FS offers). If a concurrent executor already published `dst`,
    * the loser's temp is deleted and the winner's result stands — the two
    * results are equivalent by construction (same plan key + same source
    * fingerprint). A loss with NO winner present is a real error and
    * throws.
    *
    * The legacy `FileSystem.rename` boolean CANNOT be trusted for the
    * contended case: the old-API HDFS semantics (which RawLocalFileSystem
    * inherits via a FileUtil.copy fallback) move `tmp` INTO an existing
    * `dst` directory and return TRUE — the losing racer would nest its
    * whole temp dir (part-files + `_SUCCESS`) UNDER the winner's path, and
    * a later `spark.read.parquet(dst)` would read duplicated rows. So:
    * (1) an existing `dst` is a loss before any rename is attempted, and
    * (2) a "successful" rename is disbelieved if `dst/<tmp.name>` now
    * exists — the nested artifact is removed and the call is treated as a
    * loss against the already-present winner. Temp names carry a unique
    * suffix, so `dst/<tmp.name>` can only be the nested loser, never
    * winner content. */
  private[graft] def atomicPublish(fs: org.apache.hadoop.fs.FileSystem,
                                  tmp: org.apache.hadoop.fs.Path,
                                  dst: org.apache.hadoop.fs.Path): Unit = {
    val renamed =
      if (fs.exists(dst)) false
      else try fs.rename(tmp, dst)
           catch { case scala.util.control.NonFatal(_) => false }
    // detect the rename-into-existing-directory race: both racers passed
    // the exists() pre-check, the loser's "true" moved tmp inside dst
    val nested = new org.apache.hadoop.fs.Path(dst, tmp.getName)
    val nestedLoss = renamed && fs.exists(nested)
    if (nestedLoss) fs.delete(nested, true)
    if (!renamed || nestedLoss) {
      val winner = fs.exists(new org.apache.hadoop.fs.Path(dst, "_SUCCESS"))
      if (fs.exists(tmp)) fs.delete(tmp, true)
      if (!winner)
        throw new java.io.IOException(s"cache publish failed: $tmp -> $dst " +
          "lost the publish race but no completed winner exists at the destination")
    }
  }
}

/** The QueryDatabase filter DSL: a small subset of a search-engine bool
  * query (match / match_phrase / term / terms / exists / range /
  * bool.must/must_not/should / match_all), compiled to a Column predicate
  * so Catalyst pushes it into the scan. */
object Dsl {
  def predicate(j: JValue): Column = j match {
    case JObject(List(("query", inner))) => predicate(inner)
    case JObject(List(("bool", JObject(clauses)))) =>
      // exhaustive over clause keys: an unknown clause (filter,
      // minimum_should_match, ...) must throw, not be silently dropped —
      // dropping a clause returns a SUPERSET of the intended rows.
      // Engine-compatible `should` (the Lucene bool contract): when
      // must/filter are present, should defaults to
      // minimum_should_match=0 — it only affects SCORING, never membership
      // — so it contributes no filter here; otherwise should defaults to
      // minimum_should_match=1 — an OR filter. must_not does NOT count:
      // bool{must_not, should} still requires one should clause to match.
      // Empty clause arrays are match-all (the common degenerate LLM
      // output), not an empty.reduce crash.
      val hasMust = clauses.exists {
        case (k, _) => k == "must" || k == "filter"
      }
      clauses.flatMap {
        case ("must", JArray(xs)) =>
          Some(if (xs.isEmpty) lit(true) else xs.map(predicate).reduce(_ && _))
        case ("must", single: JObject) => Some(predicate(single))
        // `filter` = must without scoring — identical membership here,
        // and the idiom LLM planners emit most often for non-scoring
        // predicates (it also suppresses should, like must)
        case ("filter", JArray(xs)) =>
          Some(if (xs.isEmpty) lit(true) else xs.map(predicate).reduce(_ && _))
        case ("filter", single: JObject) => Some(predicate(single))
        case ("must_not", JArray(xs)) =>
          Some(if (xs.isEmpty) lit(true) else !xs.map(predicate).reduce(_ || _))
        case ("must_not", single: JObject) => Some(!predicate(single))
        case ("should", _) if hasMust => None // optional-scoring only
        case ("should", JArray(xs)) =>
          Some(if (xs.isEmpty) lit(true) else xs.map(predicate).reduce(_ || _))
        case ("should", single: JObject) => Some(predicate(single))
        case (other, _) =>
          throw new IllegalArgumentException(s"unsupported bool clause: $other")
      } match {
        case Nil => throw new IllegalArgumentException("empty bool query")
        case ps => ps.reduce(_ && _)
      }
    case JObject(List(("terms", JObject(List((f, JArray(vs))))))) =>
      // TYPED membership, consistent with `term`: casting the column to
      // string would stringify a DOUBLE as "1.0" while JInt(1) prints "1"
      // — numeric terms would silently match nothing
      if (vs.isEmpty) lit(false)
      else vs.map {
        case JString(s) => col(f) === s
        case JInt(x)    => col(f) === x.toLong
        case JLong(x)   => col(f) === x
        case JDouble(x) => col(f) === x
        case other => throw new IllegalArgumentException(s"bad terms value: $other")
      }.reduce(_ || _)
    case JObject(List(("exists", JObject(List(("field", JString(f))))))) =>
      col(f).isNotNull
    case JObject(List(("match", JObject(List((f, v)))))) =>
      lower(col(f).cast("string"))
        .contains(scalarString(v).toLowerCase(java.util.Locale.ROOT))
    case JObject(List(("match_phrase", JObject(List((f, v)))))) =>
      col(f).cast("string").contains(scalarString(v))
    case JObject(List(("term", JObject(List((f, v)))))) => v match {
      case JString(s) => col(f) === s
      case JInt(x)    => col(f) === x.toLong
      case JLong(x)   => col(f) === x
      case JDouble(x) => col(f) === x
      case JBool(x)   => col(f) === x
      case other => throw new IllegalArgumentException(s"unsupported term value: $other")
    }
    case JObject(List(("range", JObject(List((f, JObject(bounds))))))) =>
      // empty bounds = no constraint = match-all (the same degenerate-LLM
      // convention as empty bool clause arrays), not an empty.reduce crash
      if (bounds.isEmpty) lit(true)
      else bounds.map {
        case ("gte", v) => boundCol(f, v) >= boundLit(v)
        case ("lte", v) => boundCol(f, v) <= boundLit(v)
        case ("gt", v)  => boundCol(f, v) > boundLit(v)
        case ("lt", v)  => boundCol(f, v) < boundLit(v)
        case (other, _) => throw new IllegalArgumentException(s"unsupported range op: $other")
      }.reduce(_ && _)
    case JObject(List(("match_all", _))) => lit(true)
    case other => throw new IllegalArgumentException(s"unsupported query DSL: $other")
  }

  private def boundCol(f: String, v: JValue): Column = v match {
    case JString(_) => col(f).cast("string")
    // TRY cast: ANSI mode (Spark 4 default) makes a plain numeric cast
    // THROW on any malformed string value — a pushed-down range filter
    // must treat non-castable rows as non-matching, like BasicFilter's
    // tryCast path, not kill the query
    case _ => tryCastDouble(col(f))
  }

  private def tryCastDouble(c: Column): Column = {
    val e = org.apache.spark.sql.graft.ColumnBridge.expression(c)
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.Cast(
        e, org.apache.spark.sql.types.DoubleType, None,
        org.apache.spark.sql.catalyst.expressions.EvalMode.TRY))
  }
  private def boundLit(v: JValue): Column = v match {
    case JString(s) => lit(s)
    case JInt(x)    => lit(x.toDouble)
    case JLong(x)   => lit(x.toDouble)
    case JDouble(x) => lit(x)
    case other => throw new IllegalArgumentException(s"unsupported bound: $other")
  }

  def scalarString(v: JValue): String = v match {
    case JString(s) => s
    case JInt(x)    => x.toString
    case JLong(x)   => x.toString
    case JDouble(x) => x.toString
    case JBool(x)   => x.toString
    case other => throw new IllegalArgumentException(s"unsupported scalar: $other")
  }
}
