package graft.sources

import graft.Stored
import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.docset.DocSet
import graft.model.{Document, Element}

/**
 * The search-index READ path (reference:
 * lib/sycamore/sycamore/connectors/opensearch/opensearch_reader.py — the
 * scroll loop :100-118, the PIT sliced read :668-740, per-slice from/size
 * paging :446-500, and document reconstruction :152-236).
 *
 * The reference talks to a live OpenSearch over HTTP; a network client is
 * non-core for this engine (offline build), so the WIRE CONTRACT is lifted
 * into a seam — [[SearchClient]] — with the paging/snapshot semantics the
 * reference relies on spelled out as an interface:
 *
 *   - '''PIT''' (point-in-time): a read handle pinning a snapshot of the
 *     index, so a long sliced read is consistent while writers keep
 *     indexing (reader.py:697 `create_pit`).
 *   - '''Slices''': a deterministic disjoint+complete partition of the
 *     document space by hash of `_id` — slice i of max m sees exactly the
 *     ids with `hash(id) mod m == i` (reader.py:701-711; OpenSearch's
 *     sliced scroll guarantees disjointness+completeness, which is the
 *     property the distributed read depends on, not the exact hash).
 *   - '''from/size paging''' within a slice (reader.py:478-492), page
 *     order deterministic, slice cardinality capped (:472, <=10k) so
 *     deep paging stays cheap.
 *   - '''Scroll''': a stateful cursor alternative for single-worker reads
 *     (reader.py:100-118 — search, then scroll(scroll_id) until empty,
 *     then clear_scroll in a finally).
 *
 * A production impl of the trait is an HTTP client; the in-repo impls are
 * a deterministic in-memory fake ([[FakeSearch]]) for contract tests and
 * [[BulkDirSearchClientFactory]], which serves the NDJSON `_bulk` files
 * that [[DocWrite.opensearchBulk]] writes — giving a genuine offline
 * round-trip: write the wire format, read it back through the wire
 * contract. Both are Serializable and open per-executor-task, like any
 * connector's connection factory.
 *
 * [[SearchRead.read]] is the Spark-side distributed read: the driver
 * counts, sizes the slice set, opens a PIT; each task pages its slice
 * through the client. Reconstruction (reference reader.py:152-236) is a
 * second distributed fetch of ALL sibling elements for every matched
 * parent, a broadcast score-join, and the existing
 * [[graft.docset.DocSet.reconstruct]] group-assembly.
 */
object SearchRead {

  /** Property key carrying the retrieval score on read-back
    * (reference reader.py:153 `search_relevance_score`). */
  val ScoreProp = "search_relevance_score"
  /** Provenance marker property (reference data/document.py DocumentSource):
    * a record the query itself matched. */
  val SourceDbQuery = "DB_QUERY"
  /** A sibling element fetched only to complete its parent document. */
  val SourceReconstructRetrieval = "DOCUMENT_RECONSTRUCTION_RETRIEVAL"
  val SourceProp = "_doc_source"

  /**
   * Distributed sliced read (reference reader.py:668 `_execute_pit`).
   *
   * Scale shape: driver work is one count + one PIT open; the hit volume
   * never passes through the driver. numSlices grows with the matched
   * count (slice target 2500 docs, reference :699), each task pages its
   * own slice with bounded `from` depth. With `reconstruct=true` a second
   * mapPartitions fetches sibling elements per distinct parent — batched
   * terms queries of 100 parents / 500-row pages (reference :240-247) —
   * and assembly is one shuffle on the parent key (DocSet.reconstruct).
   */
  def read(spark: SparkSession, factory: SearchClientFactory, index: String,
           query: SearchQuery, reconstruct: Boolean = false,
           pageSize: Int = 1000, sliceTarget: Int = 2500,
           sourceFields: Option[Seq[String]] = None): DocSet = {
    val driver = factory.open()
    val (numSlices, pit) =
      try {
        require(driver.indexExists(index), s"index not present: $index")
        query match {
          case _: SearchQuery.Knn => (0, None)
          case _ =>
            val n = driver.count(index, query, None)
            // reference :699-700: target ~2500 docs/slice, minimum 2
            // slices — CLAMPED at 1024, the backend's slices-per-PIT cap
            // (index.max_slices_per_pit default): an unclamped count made
            // every slice request invalid past ~2.5M matched docs. At the
            // clamp, per-slice from-depth stays under the 10k result
            // window up to ~10M matched docs; beyond that the extension
            // is a search_after cursor per slice.
            ((1L + n / sliceTarget).max(2L).min(1024L).toInt,
              Some(driver.createPit(index)))
        }
      } finally driver.close()

    // PIT lifecycle (reference :740 deletes its PIT when the read ends):
    // every frame that pages under the snapshot is stored at once
    // (`Stored.now`) so no later recomputation can touch a released PIT,
    // and the finally below deletes the PIT exactly once, on success or
    // failure. The read is therefore eager like the reference's, and the
    // stored frame doubles as the cache the multi-referenced reconstruct
    // path needs.
    try {
      val matched: Dataset[Document] = query match {
        case knn: SearchQuery.Knn =>
          // knn has no pagination (reference :86-97): one k-sized search.
          // k-row driver contract, like the ANN query paths.
          val client = factory.open()
          val hits = try client.knn(index, knn) finally client.close()
          spark.createDataset(hits.map(hitToDoc))(DocSet.docEnc)
        case _ =>
          val q = query
          val ps = pageSize
          val ns = numSlices
          val sf = sourceFields
          // one partition per slice, no shuffle; the body still drains every
          // id in its partition so a repartitioned plan stays correct
          Stored.now(spark.range(0, ns, 1, ns).mapPartitions { it =>
            if (!it.hasNext) Iterator.empty
            else {
              val client = factory.open()
              val out = mutable.ArrayBuffer.empty[Document]
              try {
                it.foreach { idLong =>
                  val sliceId = idLong.toInt
                  var from = 0
                  var more = true
                  while (more) {
                    val page = client.searchPage(index, q,
                      Some(SearchSlice(sliceId, ns)), pit, from, ps, sf)
                    out ++= page.map(hitToDoc)
                    from += ps
                    // a short page proves exhaustion (windows are
                    // deterministic) — no extra guaranteed-empty request
                    more = page.size == ps
                  }
                }
              } finally client.close()
              out.iterator
            }
          }(DocSet.docEnc))
      }

      if (!reconstruct) new DocSet(matched)
      else {
        import spark.implicits._
        // already stored above: multi-referenced below (parents,
        // scores, matched-parent rows) without re-reading the index
        val m = matched
        // phase B: every record belonging to a matched parent, fetched in
        // 100-parent terms batches, 500-row pages (reference :240-247)
        val parentKeys = m.map(d => d.parentId.getOrElse(d.docId)).distinct()
        val siblings: Dataset[Document] = Stored.now(parentKeys.mapPartitions { it =>
          if (!it.hasNext) Iterator.empty
          else {
            val client = factory.open()
            val out = mutable.ArrayBuffer.empty[Document]
            try {
              it.grouped(100).foreach { batch =>
                val q = SearchQuery.Terms("parent_id", batch.toSeq)
                // SCROLL, not from/size under the PIT: a deep `from`
                // re-executes the terms query per page (the quadratic
                // queryDocs pathology fixed in r17) and a real backend
                // rejects from+size past max_result_window (10k — one
                // 100-parent batch averaging >100 elements crosses it).
                // Trade, documented like queryDocs': phase B reads a
                // per-batch scroll snapshot rather than phase A's PIT;
                // under concurrent writes reconstruct() tolerates the
                // drift (absent parents are synthesized, extra siblings
                // group under their parent key).
                val (sid, first) = client.openScroll(index, q, 500)
                try {
                  var page = first
                  while (page.nonEmpty) {
                    out ++= page.map(hitToDoc)
                    page = client.scroll(sid)
                  }
                } finally {
                  try client.clearScroll(sid)
                  catch { case scala.util.control.NonFatal(_) => () }
                }
              }
            } finally client.close()
            out.iterator
          }
        }(DocSet.docEnc))
        reconstructFrom(m, siblings)
      }
    } finally {
      // best-effort: a cleanup failure (e.g. the same dead server that
      // failed the read) must not mask the root-cause exception
      pit.foreach { p =>
        try {
          val c = factory.open()
          try c.deletePit(p) finally c.close()
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[search] deletePit($p) failed: ${e.getMessage}")
        }
      }
    }
  }

  /** Phase C of the reconstructing read: score/provenance join + group
    * assembly, over frames already detached from the PIT. */
  private def reconstructFrom(m: Dataset[Document],
                              siblings: Dataset[Document]): DocSet = {
    import m.sparkSession.implicits._
    {
      // score/provenance join: a sibling the query itself matched keeps its
      // score and DB_QUERY marker; fetched-only siblings are
      // RECONSTRUCTION_RETRIEVAL at score 0 (reference :214-228). Columnar
      // (broadcast join + map rewrite), not a typed re-map — the matched
      // set is query-result-sized but unbounded, so it stays distributed.
      val scores = broadcast(
        m.map(d => (d.docId, d.prop(ScoreProp).getOrElse("0.0")))
          .toDF("__mid", "__mscore"))
      val elements = new DocSet(siblings.toDF()
        .join(scores, col("docId") === col("__mid"), "left")
        .withColumn("properties", map_concat(
          map_filter(col("properties"),
            (k, _) => k =!= ScoreProp && k =!= SourceProp),
          map(
            lit(ScoreProp), coalesce(col("__mscore"), lit("0.0")),
            lit(SourceProp), when(col("__mscore").isNotNull, lit(SourceDbQuery))
              .otherwise(lit(SourceReconstructRetrieval)))))
        .drop("__mid", "__mscore")
        .as[Document](DocSet.docEnc))
      // parent bodies come from phase A where the parent itself matched
      // (reference :185 — "always use retrieved doc as the unique parent");
      // absent parents are synthesized by reconstruct(), same as :190-199
      val parents = new DocSet(m.filter((d: Document) => d.parentId.isEmpty))
      parents.union(elements).reconstruct()
    }
  }

  /** Scroll read (reference reader.py:100-118): one stateful cursor, for
    * single-connection use — the driver-side shape, not the sliced one.
    * Returns documents in scroll order; always clears the scroll. */
  def scrollAll(client: SearchClient, index: String, query: SearchQuery,
                pageSize: Int = 200): Seq[Document] = {
    val (sid, first) = client.openScroll(index, query, pageSize)
    val out = mutable.ArrayBuffer.empty[Document]
    try {
      var page = first
      while (page.nonEmpty) {
        out ++= page.map(hitToDoc)
        page = client.scroll(sid)
      }
    } finally {
      // guarded like every other cleanup in this file: the same dead
      // server that failed the read must not mask the root cause
      try client.clearScroll(sid)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    out.toSeq
  }

  /**
   * Query-as-document (reference transforms/query.py:14 `Query`,
   * docset.py:1351 `DocSet.query`): each input document IS a search query —
   * `properties("index")` (else `defaultIndex`) names the target index and
   * `textRepresentation` carries the [[SearchWire]] JSON query body — and
   * maps to a result document whose ELEMENTS are the hits (reference
   * query.py:45 `result.hits = [Element(hit["_source"]) ...]`), each
   * carrying the retrieval score and DB_QUERY provenance like the read
   * path's documents do.
   *
   * Scale shape: a pure Map — one client per task, one live search per
   * query document (the reference's executor performs exactly one POST
   * `_search` per query); no shuffle, no driver traffic, result volume =
   * Σ hits. Non-knn queries page through a scroll cursor (O(1) per page;
   * a deep `from` re-executes quadratically — see the inline note).
   *
   * Snapshot semantics: each query document's pagination is internally
   * consistent (the scroll snapshots its index at open), but DIFFERENT
   * query documents — even in the same task, against the same index — may
   * observe different index versions under concurrent writes, because a
   * scroll cursor is bound to one query and cannot be shared the way the
   * pre-r17 per-(task, index) PIT was. This matches the reference's
   * contract (one independent POST per query document, no cross-query
   * point-in-time); callers needing one snapshot across all query docs
   * should quiesce writers or materialize the index first. Per-query
   * result sets are expected bounded (the reference's one-POST contract) —
   * a real backend additionally caps open cursors, the same per-cursor
   * bound the sliced read's 10k-per-slice cap reflects.
   */
  def queryDocs(docs: Dataset[Document], factory: SearchClientFactory,
                defaultIndex: Option[String] = None,
                pageSize: Int = 500): Dataset[Document] =
    docs.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val client = factory.open()
        val out = mutable.ArrayBuffer.empty[Document]
        try {
          it.foreach { d =>
            val index = d.prop("index").orElse(defaultIndex).getOrElse(
              throw new IllegalArgumentException(
                s"query document ${d.docId} names no index"))
            val q = SearchWire.parseQuery(SearchWire.om.readTree(d.text))
            val hits = q match {
              case k: SearchQuery.Knn => client.knn(index, k)
              case _ =>
                // SCROLL, not from+size paging: a deep from re-executes
                // the query per page on a real engine (quadratic in the
                // result set — the K=5 probe measured ratio 16.8 under
                // from+size, linear under scroll), while a scroll cursor
                // snapshots once at open and is O(1) per page. The open
                // snapshot also provides the isolation the old paging
                // carried a separate PIT for.
                val (sid, first) = client.openScroll(index, q, pageSize)
                val buf = mutable.ArrayBuffer.empty[SearchHit]
                try {
                  var page = first
                  while (page.nonEmpty) { buf ++= page; page = client.scroll(sid) }
                } finally {
                  // best-effort cleanup must not mask a root-cause failure
                  try client.clearScroll(sid)
                  catch { case scala.util.control.NonFatal(_) => () }
                }
                buf.toSeq
            }
            out += d.copy(
              docType = Some("QueryResult"),
              elements = hits.zipWithIndex.map { case (h, i) => hitToElement(i, h) },
              properties = d.properties + ("result_count" -> hits.size.toString))
          }
        } finally client.close()
        out.iterator
      }
    }(DocSet.docEnc)

  /** One hit as a result-document element (reference query.py:45). */
  private[sources] def hitToElement(idx: Int, h: SearchHit): Element = {
    val src = h.source
    val props = src.collect {
      case (k, v) if k.startsWith("properties.") => k.stripPrefix("properties.") -> v
    }
    Element(
      elementType = src.getOrElse("type", "hit"),
      textRepresentation = src.get("text"),
      binaryRepresentation = None,
      bbox = None,
      embedding = h.embedding,
      elementIndex = idx,
      tableCells = Nil,
      properties = props ++
        src.get("parent_id").map("parent_id" -> _) +
        ("doc_id" -> src.getOrElse("doc_id", h.id)) +
        (ScoreProp -> h.score.toString) + (SourceProp -> SourceDbQuery))
  }

  private[sources] def hitToDoc(h: SearchHit): Document = {
    val src = h.source
    val props = src.collect {
      case (k, v) if k.startsWith("properties.") => k.stripPrefix("properties.") -> v
    }
    Document(
      docId = src.getOrElse("doc_id", h.id),
      lineageId = Document.lineageOf(src.getOrElse("doc_id", h.id)),
      docType = src.get("type"),
      textRepresentation = src.get("text"),
      binaryRepresentation = None,
      elements = Nil,
      embedding = h.embedding,
      shingles = None,
      parentId = src.get("parent_id"),
      bbox = None,
      properties = props + (ScoreProp -> h.score.toString, SourceProp -> SourceDbQuery))
  }
}

/** One search hit on the wire: `_id`, `_score`, flattened `_source`
  * (nested `properties` object flattens to dotted keys), plus the dense
  * vector when the record carries one. */
final case class SearchHit(id: String, score: Double,
                           source: Map[String, String],
                           embedding: Option[Array[Float]] = None)

/** A slice coordinate: this worker reads the ids with
  * `floorMod(hash(id), max) == sliceId`. */
final case class SearchSlice(sliceId: Int, max: Int)

/** Minimal query algebra covering the reference's read-path query shapes:
  * match_all, exact term, terms (the reconstruction fetch,
  * reader.py:243), full-text match, bool must/filter/must_not
  * (add_filter_to_query, reader.py:283), and knn (:86). */
sealed trait SearchQuery extends Serializable
object SearchQuery {
  case object MatchAll extends SearchQuery
  /** Exact match on a keyword field. */
  final case class Term(field: String, value: String) extends SearchQuery
  /** Any-of exact match (OpenSearch `terms`). */
  final case class Terms(field: String, values: Seq[String]) extends SearchQuery
  /** Full-text: any whitespace token of `text` occurs in the field. */
  final case class Match(field: String, text: String) extends SearchQuery
  final case class Bool(must: Seq[SearchQuery] = Nil,
                        filter: Seq[SearchQuery] = Nil,
                        mustNot: Seq[SearchQuery] = Nil) extends SearchQuery
  /** k-NN over the `embedding` field; no pagination (reader.py:86-97). */
  final case class Knn(vector: Array[Float], k: Int,
                       filter: Option[SearchQuery] = None) extends SearchQuery

  /** Mirror of reader.py:283 `add_filter_to_query`: wrap an existing query
    * with a terms filter without disturbing its scoring clause. */
  def withFilter(q: SearchQuery, field: String, values: Seq[String]): SearchQuery =
    q match {
      case knn: Knn => knn.copy(filter = Some(Terms(field, values)))
      case other    => Bool(must = Seq(other), filter = Seq(Terms(field, values)))
    }
}

/** Opens a [[SearchClient]] on demand — the Serializable connection-config
  * object shipped into tasks; each task opens and closes its own client
  * (reference: OpenSearchReaderClient.from_client_params per worker). */
trait SearchClientFactory extends Serializable {
  def open(): SearchClient
}

/**
 * The wire contract the reference's reader depends on. All methods are
 * snapshot-consistent under a PIT id; without one they read the live index.
 */
trait SearchClient extends AutoCloseable {
  def indexExists(index: String): Boolean
  def count(index: String, query: SearchQuery, pit: Option[String]): Long
  /** Pin a snapshot; sliced/paged reads against it are immune to
    * concurrent writes. */
  def createPit(index: String): String
  def deletePit(pitId: String): Unit
  /** One from/size page of one slice. Page order is deterministic for a
    * fixed (query, slice, pit). `fields` is server-side `_source`
    * filtering (the list-don't-read economy syncs rely on): only the
    * named source keys come back — `_id`/`_score` always ride, the
    * embedding only when "embedding" is named. None = full source. */
  def searchPage(index: String, query: SearchQuery, slice: Option[SearchSlice],
                 pit: Option[String], from: Int, size: Int,
                 fields: Option[Seq[String]] = None): Seq[SearchHit]
  /** Open a scroll cursor: returns (scrollId, first page). */
  def openScroll(index: String, query: SearchQuery, size: Int): (String, Seq[SearchHit])
  def scroll(scrollId: String): Seq[SearchHit]
  def clearScroll(scrollId: String): Unit
  /** Exact top-k by cosine over the embedding field (no paging). */
  def knn(index: String, q: SearchQuery.Knn): Seq[SearchHit]
  // ----- write half (the `_bulk` surface SearchSync drives) -----
  /** Upsert records by `_id` (OpenSearch `_bulk` index actions). */
  def bulkIndex(index: String, hits: Seq[SearchHit]): Unit
  /** Remove every record whose parent key (parent_id, else its own _id)
    * is in `parentKeys` — the reference's delete-by-query on
    * doc_id/parent_id terms (sync.py step 6). */
  def deleteByParent(index: String, parentKeys: Seq[String]): Unit
  def close(): Unit
}

/**
 * Deterministic in-memory implementation of the wire contract.
 *
 * State lives in the [[FakeSearch]] JVM registry keyed by a namespace
 * string, so a factory is just (namespace) — on a real cluster the
 * namespace would be connection config and the registry an HTTP service;
 * under local[*] every task sees the same JVM registry, which is exactly
 * the single-service topology the fake stands in for.
 *
 * Semantics implemented to the contract, each pinned by unit test:
 *  - versioned writes + PIT snapshot isolation (a write after createPit
 *    is invisible to reads under that PIT);
 *  - hash-slicing (disjoint + complete by floorMod(murmur3(id), max));
 *  - deterministic page order (id-sorted) with stable from/size windows;
 *  - scroll cursors that snapshot at open and free on clear.
 */
object FakeSearch {
  // MVCC record: visible to a snapshot at version v iff added <= v < removed.
  // Upserts/deletes TOMBSTONE the old record (set `removed`) instead of
  // dropping it, so a PIT opened before the write still sees the pre-write
  // state — the isolation contract the sliced distributed read depends on.
  private final case class Rec(hit: SearchHit, added: Long,
                               var removed: Long = Long.MaxValue)
  private final case class Ns(
      indexes: mutable.Map[String, mutable.ArrayBuffer[Rec]] = mutable.Map.empty,
      pits: mutable.Map[String, (String, Long)] = mutable.Map.empty, // pit -> (index, version)
      var version: Long = 0L,
      var pitSeq: Long = 0L)

  private val registry = mutable.Map.empty[String, Ns]

  private def ns(key: String): Ns =
    registry.synchronized(registry.getOrElseUpdate(key, Ns()))

  /** Test/harness entry: (re)create an index from hits. */
  def createIndex(namespace: String, index: String, hits: Seq[SearchHit]): Unit = {
    val n = ns(namespace)
    n.synchronized {
      n.version += 1
      n.indexes(index) = mutable.ArrayBuffer(hits.map(Rec(_, n.version)): _*)
    }
  }

  /** Append documents (a concurrent writer for PIT-isolation tests). */
  def indexDocs(namespace: String, index: String, hits: Seq[SearchHit]): Unit = {
    val n = ns(namespace)
    n.synchronized {
      n.version += 1
      n.indexes.getOrElseUpdate(index, mutable.ArrayBuffer.empty) ++=
        hits.map(Rec(_, n.version))
    }
  }

  def dropNamespace(namespace: String): Unit =
    registry.synchronized(registry.remove(namespace))

  /** Test hook: live (created, not yet deleted) PITs in a namespace —
    * the leak detector for read()/sync() lifecycle specs. */
  def livePits(namespace: String): Int = {
    val n = ns(namespace)
    n.synchronized(n.pits.size)
  }

  /** Drop every namespace under `prefix` except `keep` — the eviction
    * hook for content-fingerprinted ingests, whose superseded corpus
    * versions would otherwise accumulate in the JVM-wide registry.
    * Namespaces with live PITs are spared: an in-flight sliced read of an
    * older corpus version still holds clients against it, and evicting
    * underneath them would break PIT isolation mid-read — they are
    * reaped on a later call once their PITs close. */
  def dropNamespacesWithPrefix(prefix: String, keep: String): Unit =
    registry.synchronized {
      registry.iterator
        .filter { case (k, n) =>
          k.startsWith(prefix) && k != keep && n.synchronized(n.pits.isEmpty)
        }
        .map(_._1).toSeq.foreach(registry.remove)
    }

  /** Create-if-absent (idempotent ingest): every task of a distributed
    * read may race to materialize the same fixture index; the first wins
    * and later calls are no-ops, so PIT versions stay stable. */
  def ensureIndex(namespace: String, index: String)(mk: => Seq[SearchHit]): Unit = {
    val n = ns(namespace)
    n.synchronized {
      if (!n.indexes.contains(index)) {
        n.version += 1
        n.indexes(index) = mutable.ArrayBuffer(mk.map(Rec(_, n.version)): _*)
      }
    }
  }

  private[sources] def matches(q: SearchQuery, h: SearchHit): Boolean = q match {
    case SearchQuery.MatchAll => true
    case SearchQuery.Term(f, v) => fieldValues(h, f).contains(v)
    case SearchQuery.Terms(f, vs) =>
      val set = vs.toSet; fieldValues(h, f).exists(set)
    case SearchQuery.Match(f, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty)
      fieldValues(h, f).exists { v =>
        val fv = v.split("\\s+").toSet
        toks.exists(fv)
      }
    case SearchQuery.Bool(must, filter, mustNot) =>
      must.forall(matches(_, h)) && filter.forall(matches(_, h)) &&
        !mustNot.exists(matches(_, h))
    case _: SearchQuery.Knn =>
      throw new IllegalArgumentException("knn is not a paged query")
  }

  private def fieldValues(h: SearchHit, field: String): Seq[String] = {
    // accept both "field" and "field.keyword" addressing, like OpenSearch
    val f = field.stripSuffix(".keyword")
    if (f == "_id") Seq(h.id)
    else h.source.get(f).orElse(h.source.get(s"properties.$f")).toSeq
  }

  private[sources] def sliceOf(id: String, max: Int): Int =
    Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(id), max)

  final class Client(namespace: String) extends SearchClient {
    private val n = ns(namespace)
    private val scrolls = mutable.Map.empty[String, Iterator[Seq[SearchHit]]]
    private var nextScroll = 0

    override def indexExists(index: String): Boolean =
      n.synchronized(n.indexes.contains(index))

    private def snapshot(index: String, pit: Option[String]): Seq[SearchHit] =
      n.synchronized {
        val recs = n.indexes.getOrElse(index,
          throw new IllegalArgumentException(s"no such index: $index"))
        pit match {
          case Some(p) =>
            val (pIndex, v) = n.pits.getOrElse(p,
              throw new IllegalArgumentException(s"unknown or deleted pit: $p"))
            require(pIndex == index, s"pit $p is for index $pIndex, not $index")
            recs.filter(r => r.added <= v && r.removed > v).map(_.hit).toSeq
          case None => recs.filter(_.removed == Long.MaxValue).map(_.hit).toSeq
        }
      }

    override def count(index: String, query: SearchQuery, pit: Option[String]): Long =
      snapshot(index, pit).count(matches(query, _)).toLong

    override def createPit(index: String): String = n.synchronized {
      require(n.indexes.contains(index), s"no such index: $index")
      // monotone sequence, never reused (pits.size shrinks on delete and
      // a recycled id would hijack a live PIT's snapshot)
      n.pitSeq += 1
      val id = s"pit-${n.version}-${n.pitSeq}"
      n.pits(id) = (index, n.version)
      id
    }

    override def deletePit(pitId: String): Unit =
      n.synchronized(n.pits.remove(pitId))

    override def searchPage(index: String, query: SearchQuery,
                            slice: Option[SearchSlice], pit: Option[String],
                            from: Int, size: Int,
                            fields: Option[Seq[String]] = None): Seq[SearchHit] = {
      require(from >= 0 && size > 0, "bad page window")
      val all = snapshot(index, pit)
        .filter(h => slice.forall(s => sliceOf(h.id, s.max) == s.sliceId))
        .filter(matches(query, _))
        .sortBy(_.id)
      val page = all.slice(from, from + size)
      fields match {
        case None => page
        case Some(fs) =>
          val want = fs.toSet
          page.map(h => h.copy(
            source = h.source.filter { case (k, _) => want(k) },
            embedding = h.embedding.filter(_ => want("embedding"))))
      }
    }

    override def openScroll(index: String, query: SearchQuery,
                            size: Int): (String, Seq[SearchHit]) = {
      val all = snapshot(index, None).filter(matches(query, _)).sortBy(_.id)
      val it = all.grouped(size)
      val id = { nextScroll += 1; s"scroll-$nextScroll" }
      scrolls(id) = it
      (id, if (it.hasNext) it.next() else Nil)
    }

    override def scroll(scrollId: String): Seq[SearchHit] = {
      val it = scrolls.getOrElse(scrollId,
        throw new IllegalArgumentException(s"unknown or cleared scroll: $scrollId"))
      if (it.hasNext) it.next() else Nil
    }

    override def clearScroll(scrollId: String): Unit = scrolls.remove(scrollId)

    override def bulkIndex(index: String, hits: Seq[SearchHit]): Unit =
      n.synchronized {
        val buf = n.indexes.getOrElseUpdate(index, mutable.ArrayBuffer.empty)
        n.version += 1
        val ids = hits.map(_.id).toSet
        // tombstone replaced records (PITs opened earlier keep seeing them)
        buf.foreach { r =>
          if (r.removed == Long.MaxValue && ids(r.hit.id)) r.removed = n.version
        }
        buf ++= hits.map(Rec(_, n.version))
      }

    override def deleteByParent(index: String, parentKeys: Seq[String]): Unit =
      n.synchronized {
        n.indexes.get(index).foreach { buf =>
          val ks = parentKeys.toSet
          n.version += 1
          // tombstone, not drop: earlier PITs still see the deleted records
          buf.foreach { r =>
            if (r.removed == Long.MaxValue &&
                ks(r.hit.source.getOrElse("parent_id", r.hit.id)))
              r.removed = n.version
          }
        }
      }

    override def knn(index: String, q: SearchQuery.Knn): Seq[SearchHit] = {
      val cands = snapshot(index, None)
        .filter(h => q.filter.forall(matches(_, h)))
        .flatMap(h => h.embedding.map(e => (h, cosine(e, q.vector))))
      cands.sortBy { case (h, s) => (-s, h.id) }.take(q.k)
        .map { case (h, s) => h.copy(score = s) }
    }

    private def cosine(a: Array[Float], b: Array[Float]): Double = {
      require(a.length == b.length, "dim mismatch")
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }

    override def close(): Unit = scrolls.clear()
  }
}

/** Factory for the registry-backed fake. */
final case class FakeSearchClientFactory(namespace: String) extends SearchClientFactory {
  override def open(): SearchClient = new FakeSearch.Client(namespace)
}

/**
 * A [[SearchClient]] over the `_bulk` NDJSON files that
 * [[DocWrite.opensearchBulk]] writes: each `open()` replays the action/
 * source line pairs from the directory into an in-memory index — the
 * offline stand-in for "an OpenSearch that ingested those files". Reads
 * go through the exact same paging/slicing contract, so
 * write→ingest→read-back→reconstruct round-trips without a network.
 * Cluster-honest: the directory is on the shared filesystem and every
 * task replays it independently (a broadcast-sized corpus by contract —
 * this is a test/golden fixture path, not a production scan).
 */
final case class BulkDirSearchClientFactory(dir: String, index: String)
    extends SearchClientFactory {
  override def open(): SearchClient = {
    // fail LOUDLY on an unusable dir: java.io.File cannot list non-local
    // paths (hdfs://, s3a://) and returns null for a mistyped one —
    // silently ingesting an EMPTY index would pass indexExists and return
    // an empty read with no error (silent data loss)
    val d = new java.io.File(dir)
    require(d.isDirectory && d.canRead,
      s"bulk dir not listable: $dir (must be a readable LOCAL directory — " +
        "java.io listing; non-local filesystems are not supported here)")
    // the namespace carries a CONTENT fingerprint (names + sizes + mtimes)
    // so a rewritten bulk directory gets a fresh ingest instead of the
    // stale first one the path-only key served (r14 advice); within one
    // corpus version the key is stable, so concurrent task opens still
    // ensure exactly one ingest and PIT versions stay stable
    val nsKey = s"bulkdir:$dir:${fingerprint()}"
    // evict superseded corpus versions of THIS dir (a long session that
    // rewrites the fixture N times must not hold N parsed copies); the
    // one-corpus-version-at-a-time contract of a fixture path
    FakeSearch.dropNamespacesWithPrefix(s"bulkdir:$dir:", nsKey)
    FakeSearch.ensureIndex(nsKey, index)(parseBulkDir())
    new FakeSearch.Client(nsKey)
  }

  private def fingerprint(): String = {
    // CONTENT hash, not name:size:mtime — a same-size rewrite within the
    // filesystem's mtime granularity (common on coarse-mtime filesystems
    // and fast test loops) must produce a new namespace, not serve the
    // stale ingest. The dir is a broadcast-sized fixture by contract, so
    // one streaming pass per open() is cheap relative to the replay parse.
    val d = new java.io.File(dir)
    val parts = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("part-")).sortBy(_.getName)
    var acc = 0L
    parts.foreach { f =>
      acc = graft.functions.Xx64.hash(f.getName.getBytes("UTF-8"), acc)
      acc = graft.functions.Xx64.hash(
        java.nio.file.Files.readAllBytes(f.toPath), acc)
    }
    java.lang.Long.toUnsignedString(acc, 16)
  }

  private def parseBulkDir(): Seq[SearchHit] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val d = new java.io.File(dir)
    val parts = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("part-")).sortBy(_.getName)
    val hits = mutable.ArrayBuffer.empty[SearchHit]
    parts.foreach { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try {
        val lines = src.getLines().filter(_.nonEmpty).toSeq
        require(lines.length % 2 == 0, s"odd bulk line count in ${f.getName}")
        lines.grouped(2).foreach { case Seq(action, source) =>
          val a = om.readTree(action)
          val idxMeta = a.get("index")
          require(idxMeta != null && idxMeta.get("_index").asText() == index,
            s"bulk action for wrong index in ${f.getName}")
          val id = idxMeta.get("_id").asText()
          // the ONE source-flattening codec (SearchWire.parseSource) — the
          // fake server's _bulk route parses identical NDJSON lines with
          // it; a hand-rolled copy here had already drifted on nested
          // non-properties objects
          hits += SearchWire.parseSource(id, 1.0, om.readTree(source))
        }
      } finally src.close()
    }
    hits.toSeq
  }
}
