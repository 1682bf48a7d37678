package graft.sources

import graft.Stored
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.docset.DocSet
import graft.model.Document

/**
 * Incremental search-index synchronization (reference:
 * connectors/opensearch/sync.py — "which of these documents need to be
 * added or removed from this index?", answered from NAMES/HASHES without
 * reading bodies; algorithm steps 1-6 in the module docstring,
 * content-hash assignment :38-47, stale deletion :48-52).
 *
 * Spark-first re-expression: both sides collapse to (parent key ->
 * order-insensitive signature over the content hashes of the parent's
 * records), and the reload plan is ONE full-outer join of two narrow
 * frames — no driver-side listing, no per-document probes:
 *
 *   - '''source side''': the already-exploded DocSet; each record's
 *     content hash is a columnar xxhash64 over its identity+content
 *     fields, the parent signature an aggregate of the sorted hash list.
 *     The reference's "include the position in the split so duplicate
 *     content has a different hash" (:41-42) maps to hashing the
 *     element-index property along with the content.
 *   - '''index side''': a sliced [[SearchRead]] scan of just
 *     (doc_id, parent_id, content-hash property) — the hash rides in the
 *     index as a record property (written by [[SearchSync.sync]]), so the
 *     diff never fetches bodies: the reference's list-don't-read economy.
 *
 * `diff` returns the plan (`load` / `delete` per parent key); `sync`
 * applies it with per-partition bulk writes through the client's write
 * half. Deletion is by parent: every index record whose parent key left
 * the source is removed (reference step 6), and a changed parent is
 * cleared before its records reload so redefinition converges (reference
 * load steps 6-7).
 */
object SearchSync {

  /** Property carrying each record's content hash in the index — the
    * sync-state the reference encodes in its md-rl names (sync.py:28-33). */
  val HashProp = "_content_hash"

  /** Per-record content hash: identity + content + split position
    * (element index rides in properties) + the embedding — toHit WRITES
    * the embedding into the index record, so an embedding-only change
    * (re-embedding a corpus with a new model) must drift the signature or
    * sync would silently keep stale vectors. Columnar, codegen'd; stringly
    * typed because it round-trips through an index property. */
  private def contentHash: Column =
    xxhash64(to_json(struct(col("docId"), col("parentId"), col("docType"),
      col("textRepresentation"), col("properties"), col("embedding")))).cast("string")

  private def parentSig(parent: Column, hash: Column, df: DataFrame): DataFrame =
    df.groupBy(parent.as("parent"))
      .agg(xxhash64(to_json(sort_array(collect_list(hash)))).as("sig"))

  /** (parent key, signature) per source parent: order-insensitive hash of
    * the member content hashes. */
  private[sources] def sourceSignatures(docs: DocSet): DataFrame = {
    val df = docs.toDF.withColumn("__h", contentHash)
    parentSig(coalesce(col("parentId"), col("docId")), col("__h"), df)
  }

  /** (parent key, signature) per indexed parent, from the stored hash
    * property — a narrow sliced scan, no bodies. */
  private[sources] def indexSignatures(spark: SparkSession,
                                       factory: SearchClientFactory,
                                       index: String): DataFrame = {
    import spark.implicits._
    val client = factory.open()
    val exists = try client.indexExists(index) finally client.close()
    // a first sync bootstraps the index: nothing there, everything loads
    if (!exists) return Seq.empty[(String, Long)].toDF("parent", "sig")
    // narrow scan: server-side _source filtering pulls only the three
    // sync fields — the list-don't-read economy (bodies and embeddings
    // never cross the wire, cost is O(cardinality) not O(index bytes))
    val scan = SearchRead.read(spark, factory, index, SearchQuery.MatchAll,
      sourceFields = Some(Seq("doc_id", "parent_id", s"properties.$HashProp")))
    val df = scan.ds
      .map(d => (d.parentId.getOrElse(d.docId), d.prop(HashProp).getOrElse("")))
      .toDF("__p", "__h")
    parentSig(col("__p"), col("__h"), df)
  }

  /**
   * The reload plan: one row per parent key needing work —
   * `action` = "load" (absent from the index, or signature drift) |
   * "delete" (no longer in the source). Up-to-date parents don't appear.
   * Both inputs are (parent, sig) frames, so the join is narrow however
   * large the corpus; at 100 TB the shuffle carries two longs per parent.
   */
  def diff(docs: DocSet, factory: SearchClientFactory, index: String): DataFrame = {
    val src = sourceSignatures(docs).withColumnRenamed("sig", "src_sig")
    val dst = indexSignatures(docs.spark, factory, index)
      .withColumnRenamed("sig", "dst_sig")
    src.join(dst, Seq("parent"), "full_outer")
      .withColumn("action",
        when(col("src_sig").isNull, lit("delete"))
          .when(col("dst_sig").isNull || col("dst_sig") =!= col("src_sig"), lit("load"))
          .otherwise(lit(null)))
      .where(col("action").isNotNull)
      .select(col("parent"), col("action"))
  }

  /**
   * Apply the plan. Three distributed passes, each an independent action
   * so ordering is by job completion, not partitioning: (1) delete every
   * record of departed AND changed parents; (2) bulk-index the changed/new
   * parents' records with their content hashes attached; done. A parent's
   * records may spread across write partitions — safe, because the clear
   * happened wholesale in pass 1. Returns (loadedParents, deletedParents).
   */
  def sync(docs: DocSet, factory: SearchClientFactory, index: String): (Long, Long) = Stored.scoped {
    val spark = docs.spark
    import spark.implicits._
    val plan = Stored.cached(diff(docs, factory, index))
    val loads = plan.where(col("action") === "load").select("parent")
    val nDel = plan.where(col("action") === "delete").count()
    val nLoad = loads.count()

    // pass 1: clear departed + changed parents (the action completes
    // before the load job starts, so reloads cannot be re-deleted)
    plan.select("parent").as[String].foreachPartition { (it: Iterator[String]) =>
      if (it.hasNext) {
        val client = factory.open()
        try it.grouped(100).foreach(b => client.deleteByParent(index, b.toSeq))
        finally client.close()
      }
    }
    // pass 2: write all records of load parents, hash property attached
    val toLoad = docs.toDF
      .withColumn("__h", contentHash)
      .withColumn("properties", map_concat(
        map_filter(col("properties"), (k, _) => k =!= HashProp),
        map(lit(HashProp), col("__h"))))
      .drop("__h")
      .withColumn("__p", coalesce(col("parentId"), col("docId")))
      // the plan is a change-sized fraction of the corpus: broadcast hint,
      // AQE keeps the right to pick a shuffle join on a full rebuild
      .join(broadcast(loads.withColumnRenamed("parent", "__p")), Seq("__p"))
      .drop("__p")
      .as[Document](DocSet.docEnc)
    toLoad.foreachPartition { (it: Iterator[Document]) =>
      if (it.hasNext) {
        val client = factory.open()
        try it.grouped(500).foreach(b => client.bulkIndex(index, b.map(toHit).toSeq))
        finally client.close()
      }
    }
    (nLoad, nDel)
  }

  /** One document as an index record (the hash already rides in
    * properties by the time this runs). */
  private def toHit(d: Document): SearchHit = {
    val base = mutable.Map("doc_id" -> d.docId)
    d.parentId.foreach(base("parent_id") = _)
    d.docType.foreach(base("type") = _)
    d.textRepresentation.foreach(base("text") = _)
    d.properties.foreach { case (k, v) => if (v != null) base(s"properties.$k") = v }
    SearchHit(d.docId, 1.0, base.toMap, d.embedding)
  }
}
