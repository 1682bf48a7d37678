package graft.ann

import graft.Stored
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.gf

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (Array[Float]). The reference has no ANN operator (vector search is
 * delegated to external stores, reference: lib/sycamore/sycamore/connectors/);
 * for a self-contained 100 TB engine we provide:
 *
 *  - bruteForceTopK: exact top-k by cosine — a single scan + TakeOrdered,
 *    the correctness baseline and perfectly scalable for one-off queries
 *    (no shuffle of the corpus, only a k-row result per partition).
 *  - ivfTopK: IVF-style two-stage search — assign vectors to their nearest
 *    centroid (NearestCentroidExpr: one plan node at ANY nlist), probe only
 *    the nprobe lists nearest the query. IVF CONTRACT: embeddings are
 *    assumed (approximately) unit-normalized — rows are assigned by
 *    squared-L2 argmin while probes rank centroids by cosine, and the two
 *    agree only on the unit sphere (the standard FAISS-style practice for
 *    cosine IVF: normalize upstream; unnormalized corpora lose recall).
 *  - buildIvfIndex / ivfTopKIndexed: the 100 TB path — corpus persisted
 *    PARTITIONED BY centroid_id, so a probe is parquet partition PRUNING
 *    (reads nprobe/nlist of the data), not a filter over a full scan.
 *
 * Recall caveat: IVF (like any partitioning index) presumes clusterable
 * vectors. On uniformly-random unit vectors recall degenerates to
 * ~nprobe/nlist — a property of the data, not the index; real embedding
 * corpora cluster and recall@10 >= 0.9 at nprobe/nlist ~ 1/8 is typical
 * (see DedupAnnSpec "IVF recall" test).
 */
object Ann {

  /** Literal vector -> array<double> column — ONE plan node (array(lit...)
    * would inflate the plan with d Literal nodes at d=1536). */
  def vecLit(v: Seq[Double]): Column = typedLit(v)

  /**
   * Exact top-k by cosine similarity against a literal query vector.
   * Plan shape: scan -> project (codegen'd dot product) -> TakeOrderedAndProject
   * (per-partition top-k, then k-way merge on the driver) — no full sort,
   * no shuffle.
   */
  def bruteForceTopK(df: DataFrame, id: String, vec: String,
                     query: Seq[Double], k: Int): DataFrame = {
    val sim = gf.cosineSimilarity(col(vec), vecLit(query))
    df.select(col(id), sim.as("cosine"))
      .orderBy(desc("cosine"), col(id))
      .limit(k)
  }

  /** Nearest-centroid id for a vector column (argmin squared L2 over the
    * codebook). One expression node regardless of nlist. */
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column = {
    val e = org.apache.spark.sql.graft.ColumnBridge.expression(vec.cast("array<double>"))
    org.apache.spark.sql.graft.ColumnBridge.column(NearestCentroidExpr(e, centroids))
  }

  /** Deterministic centroid selection: the first nlist DISTINCT vectors in
    * id-hash order — cheap, shuffle-free codebook bootstrap (duplicate
    * corpus vectors must not seed duplicate centroids: the strict-< argmin
    * would leave the higher-index copy an empty list that still consumes a
    * probe slot). Over-samples 4x before the driver-side content dedup.
    * For tighter lists run MLlib KMeans (DocSet.kmeans) and pass its
    * centers instead. */
  def sampleCentroids(df: DataFrame, id: String, vec: String, nlist: Int): Array[Array[Double]] =
    // isNotNull: a null embedding row in the sample would NPE at .toArray —
    // real corpora carry docs that never got embedded
    df.where(col(vec).isNotNull)
      .select(col(vec).cast("array<double>").as("v"))
      .orderBy(xxhash64(col(id)))
      .limit(4 * nlist)
      .collect()
      .map(_.getSeq[Double](0))
      .distinct
      .take(nlist)
      .map(_.toArray)

  /**
   * IVF top-k, in-memory variant: assign each row to its nearest centroid,
   * scan only rows whose list is among the query's nprobe nearest centroids.
   */
  def ivfTopK(df: DataFrame, id: String, vec: String,
              centroids: Array[Array[Double]],
              query: Seq[Double], k: Int, nprobe: Int): DataFrame = {
    val probed = probeSet(centroids, query, nprobe)
    val assigned = df.withColumn("centroid_id", nearestCentroid(col(vec), centroids))
    bruteForceTopK(assigned.where(col("centroid_id").isin(probed: _*)),
      id, vec, query, k)
  }

  /**
   * One-scan MULTI-query IVF top-k: every corpus row is assigned to its
   * centroid ONCE, the (query, probed-centroid) pairs ride in as a
   * broadcast equi-join on centroid_id, and per-query top-k falls out of a
   * window over the query partition — so Q queries cost one corpus scan,
   * not Q (the per-query `ivfTopK` loop is the wrong asymptote for an
   * eval set of 1k-10k queries). The query set is bounded driver state by
   * contract (same as the codebook).
   *
   * Ordering parity with ivfTopK/bruteForceTopK: rank on the UNROUNDED
   * cosine desc, then id asc.
   */
  def ivfTopKMany(df: DataFrame, id: String, vec: String,
                  centroids: Array[Array[Double]],
                  queries: Seq[(Long, Seq[Double])],
                  k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    require(queries.nonEmpty, "ivfTopKMany needs at least one query")
    // (query, centroid) pairs and the query vectors broadcast SEPARATELY:
    // carrying the full vector on every probe pair would replicate each
    // query nprobe times (10k queries x d=1536 x nprobe=8 ~ 1 GB instead
    // of ~125 MB)
    val probePairs = queries.flatMap { case (q, qv) =>
      probeSet(centroids, qv, nprobe).map(cid => (q, cid))
    }.toDF("query_id", "_cid")
    val qvecs = queries.toDF("query_id", "_qvec")
    val assigned = df.withColumn("_cid", nearestCentroid(col(vec), centroids))
    val sim = gf.cosineSimilarity(col(vec), col("_qvec").cast("array<double>"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col(id))
    assigned.join(broadcast(probePairs), "_cid")
      .join(broadcast(qvecs), "query_id")
      .select(col("query_id"), col(id), sim.as("cosine"))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .select(col("query_id"), col(id), col("cosine"))
  }

  /** The nprobe centroid ids nearest the query (by cosine). */
  def probeSet(centroids: Array[Array[Double]], query: Seq[Double], nprobe: Int): Seq[Int] =
    centroids.zipWithIndex
      .map { case (c, cid) => (cid, cosine(c.toIndexedSeq, query)) }
      .sortBy(-_._2).take(nprobe).map(_._1).toSeq

  /**
   * Persist an IVF index: corpus written partitioned by centroid_id.
   * At 100 TB this is the load-once/query-many layout — each probe reads
   * only its partition directories (partition pruning at the file index,
   * before any task is scheduled).
   */
  def buildIvfIndex(df: DataFrame, vec: String,
                    centroids: Array[Array[Double]], path: String): Unit =
    df.withColumn("centroid_id", nearestCentroid(col(vec), centroids))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  /** Query a persisted IVF index: the centroid_id IN (...) predicate prunes
    * parquet partitions — `.explain` shows PartitionFilters, not a scan. */
  def ivfTopKIndexed(spark: SparkSession, path: String, id: String, vec: String,
                     centroids: Array[Array[Double]],
                     query: Seq[Double], k: Int, nprobe: Int): DataFrame = {
    val probed = probeSet(centroids, query, nprobe)
    bruteForceTopK(
      spark.read.parquet(path).where(col("centroid_id").isin(probed: _*)),
      id, vec, query, k)
  }

  // ------------------------------------------------- product quantization

  /**
   * PQ codes for a vector column: the vector is split into `codebooks.length`
   * subspaces and each subvector is replaced by the id of its nearest
   * sub-centroid — m bytes per vector instead of d floats (d=1536 float32 →
   * m=8 bytes is 768×), which is what makes a 100 TB embedding corpus
   * scannable at all. Composed from NearestCentroidExpr per subspace: m plan
   * nodes total, each carrying its codebook as one reference object.
   *
   * @param codebooks per-subspace centroid matrices; subspace s covers
   *                  dimensions [s*subDim, (s+1)*subDim).
   */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val subDim = codebooks.head.head.length
    array(codebooks.zipWithIndex.toIndexedSeq.map { case (cb, s) =>
      nearestCentroid(slice(vec.cast("array<double>"), s * subDim + 1, subDim), cb)
    }: _*)
  }

  /** Train per-subspace codebooks on a driver-side sample (deterministic:
    * first `ksub` distinct subvectors in id-hash order seed the codebook,
    * then `iters` Lloyd iterations). For production-grade codebooks run
    * MLlib KMeans per subspace and pass its centers. */
  def pqTrain(df: DataFrame, id: String, vec: String, m: Int, ksub: Int,
              sampleN: Int = 4096, iters: Int = 5): Array[Array[Array[Double]]] = {
    val sample = df.where(col(vec).isNotNull)
      .select(col(vec).cast("array<double>").as("v"))
      .orderBy(xxhash64(col(id))).limit(sampleN)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "pqTrain needs at least one non-null vector")
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val subDim = d / m
    Array.tabulate(m) { s =>
      val subs = sample.map(v => v.slice(s * subDim, (s + 1) * subDim))
      // content distinctness: Array equality is reference equality, so a
      // raw .distinct is a no-op — duplicate seeds would permanently
      // shrink the effective ksub (ties go to the lower index forever)
      var cents = subs.map(_.toSeq).distinct.take(ksub).map(_.toArray)
      var it = 0
      while (it < iters) {
        val assign = subs.groupBy(v => cents.indices.minBy(c => l2sq(v, cents(c))))
        cents = cents.indices.map { c =>
          assign.get(c) match {
            case Some(vs) =>
              val mean = new Array[Double](subDim)
              vs.foreach(v => { var i = 0; while (i < subDim) { mean(i) += v(i); i += 1 } })
              mean.map(_ / vs.length)
            case None => cents(c)
          }
        }.toArray
        it += 1
      }
      cents
    }
  }

  /**
   * Asymmetric-distance top-k over PQ codes: the query is NOT quantized —
   * per subspace, the squared L2 between the query subvector and every
   * sub-centroid is precomputed on the driver (m × ksub doubles), and a
   * row's approximate distance is m table lookups over its codes. The scan
   * reads only the codes column; TakeOrderedAndProject keeps the k best.
   * Optionally follow with an exact re-rank of the top R << n rows against
   * the full vectors (standard PQ practice; not needed for the gate).
   */
  def pqAdcTopK(df: DataFrame, id: String, codes: String,
                codebooks: Array[Array[Array[Double]]],
                query: Seq[Double], k: Int): DataFrame = {
    val subDim = codebooks.head.head.length
    val tables = codebooks.zipWithIndex.map { case (cb, s) =>
      val qSub = query.slice(s * subDim, (s + 1) * subDim).toArray
      cb.map(c => l2sq(qSub, c))
    }
    val lookups = tables.zipWithIndex.map { case (table, s) =>
      // element_at over a literal lookup array: ksub lits per subspace,
      // m*ksub total — fine at ksub<=256; codes are 0-based
      element_at(array(table.toIndexedSeq.map(lit): _*), element_at(col(codes), s + 1) + 1)
    }.reduce(_ + _)
    // the validity guard is CORRECTNESS, not style: element_at over a
    // literal array (containsNull=false) mis-declares its output as
    // non-nullable, so a null OR out-of-bounds index reads back as slot-0
    // garbage (adc_dist = sum of table[0]s — a real-looking distance)
    // instead of null. pqEncode guarantees non-null, m-long codes in
    // [0, ksub), but the column is caller-supplied — so the guard covers
    // every malformed shape: null column, short/long arrays, null entries,
    // AND code values outside [0, ksub) (element_at past the table end is
    // the same mis-declared null → slot-0 garbage). Malformed rows get a
    // true null, and asc_nulls_last (Spark's asc default is nulls-FIRST)
    // ranks them behind every real distance. The range check is
    // PER-SUBSPACE (not one shared ksub): pqTrain's distinct-sample seeding
    // can yield fewer than ksub centroids in a subspace, so table lengths
    // may legitimately differ.
    val valid = col(codes).isNotNull &&
      size(col(codes)) === lit(tables.length) &&
      tables.zipWithIndex.map { case (t, s) =>
        val c = element_at(col(codes), s + 1)
        c.isNotNull && c >= 0 && c < lit(t.length)
      }.reduce(_ && _)
    val adc = when(valid, lookups)
    df.select(col(id), adc.as("adc_dist"))
      .orderBy(asc_nulls_last("adc_dist"), col(id))
      .limit(k)
  }

  /**
   * Full PQ search: ADC shortlist of `shortlist` candidates over the codes
   * column, then EXACT squared-L2 re-rank of just those rows — the standard
   * two-stage shape (quantization error blurs within-cluster ranking, so
   * raw ADC top-k has poor fine-grained recall at practical code rates; the
   * re-rank reads full vectors for only shortlist << n rows).
   */
  def pqSearch(df: DataFrame, id: String, vec: String, codes: String,
               codebooks: Array[Array[Array[Double]]],
               query: Seq[Double], k: Int, shortlist: Int = 0): DataFrame = {
    val r = if (shortlist > 0) shortlist else math.max(10 * k, 100)
    val short = pqAdcTopK(df, id, codes, codebooks, query, r).select(col(id))
    val exact = aggregate(
      zip_with(col(vec).cast("array<double>"), vecLit(query),
        (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)
    df.join(broadcast(short), Seq(id), "left_semi")
      .select(col(id), exact.as("dist"))
      // nulls-last for the same reason as pqAdcTopK: a shortlisted row
      // whose full vector is null must not outrank real distances
      .orderBy(asc_nulls_last("dist"), col(id)).limit(k)
  }

  private def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  private def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    val denom = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
    // zero-norm guard, matching gf.cosineSimilarity: a NaN here would sort
    // a degenerate centroid's list out of every probe set (rows assigned
    // to it become unreachable) or scramble the whole probe order
    if (denom == 0.0) 0.0 else dot / denom
  }

  // -------------------------------------------------- SQ8 scalar quantization

  /** Per-dimension (min, max) over the corpus — ONE aggregation whose output
    * is dim-sized regardless of corpus size (posexplode → groupBy(pos) with
    * map-side partial min/max), so the driver collect is legitimate at any
    * scale. min/max are exact (no float-summation order hazard). */
  def sq8Train(df: DataFrame, vec: String): (Array[Double], Array[Double]) = {
    val agg = df.select(posexplode(col(vec).cast("array<double>")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    val dim = agg.map(_.getAs[Int]("pos")).max + 1
    val mn = new Array[Double](dim); val mx = new Array[Double](dim)
    agg.foreach { r =>
      mn(r.getAs[Int]("pos")) = r.getAs[Double]("mn")
      mx(r.getAs[Int]("pos")) = r.getAs[Double]("mx")
    }
    (mn, mx)
  }

  /** The shared quantizer: q_i = clamp(floor((x_i − mn_i)/(mx_i − mn_i)·255
    * + 0.5), 0, 255); constant dimensions quantize to 0. floor(v + 0.5) is
    * used instead of round() deliberately — half-up in BOTH engines, where
    * round() is half-up in Spark but banker's-adjacent in others. */
  def sq8Encode(vec: Column, mn: Array[Double], mx: Array[Double]): Column = {
    val mnL = typedLit(mn.toSeq)
    val scL = typedLit(mn.zip(mx).map { case (a, b) => b - a }.toSeq)
    transform(vec.cast("array<double>"), (x, i) => {
      val m = element_at(mnL, i + 1)
      val sc = element_at(scL, i + 1)
      val qv = when(sc === lit(0.0), lit(0.0))
        .otherwise(floor((x - m) / sc * lit(255.0) + lit(0.5)))
      least(greatest(qv, lit(0.0)), lit(255.0)).cast("long")
    })
  }

  /** Driver-side twin of [[sq8Encode]] for encoding the query vector —
    * IEEE double −,/,· are exactly rounded, so this matches the column
    * form bit-for-bit. */
  def sq8EncodeVec(q: Seq[Double], mn: Array[Double], mx: Array[Double]): Array[Long] =
    Array.tabulate(q.length) { i =>
      val sc = mx(i) - mn(i)
      val v = if (sc == 0.0) 0.0 else math.floor((q(i) - mn(i)) / sc * 255.0 + 0.5)
      math.min(255.0, math.max(0.0, v)).toLong
    }

  /**
   * SQ8 candidate search: top-k by the INTEGER inner product of uint8 codes
   * — 4× less memory traffic than float32 and pure int64 math (exact, so
   * the cross-engine gate hash-matches). Plan: scan → codegen'd zip_with
   * fold → TakeOrderedAndProject, no shuffle, no full sort. The quantized
   * inner product is a candidate RANKING, not a cosine; callers wanting
   * exact order re-rank the shortlist via [[sq8SearchRerank]].
   */
  def sq8TopK(df: DataFrame, id: String, codes: String,
              queryCodes: Array[Long], k: Int): DataFrame = {
    val qc = typedLit(queryCodes.toSeq)
    // codegen'd DotProductExpr, not aggregate(zip_with(...)) — HOF lambdas
    // evaluate interpreted on the hot per-row path. The double accumulator
    // is exact here: products are <= 255^2 and sums stay far below 2^53,
    // so the cast back to long loses nothing and the gate schema holds.
    df.select(col(id),
        gf.dotProduct(col(codes), qc).cast("long").as("sq8_dot"))
      .orderBy(desc("sq8_dot"), col(id))
      .limit(k)
  }

  /** SQ8 shortlist (expand·k by quantized dot) re-ranked by exact cosine —
    * the standard two-stage recall/precision trade. The shortlist join is
    * a broadcast of expand·k ids; the exact pass touches only those rows.
    * Pass `codes` to reuse a PRE-ENCODED codes column (the query-many
    * shape: encoding is query-independent — re-quantizing the corpus per
    * query would pay a full interpreted transform pass each call, the
    * pqSearch precomputed-codes pattern). */
  def sq8SearchRerank(df: DataFrame, id: String, vec: String,
                      mn: Array[Double], mx: Array[Double],
                      query: Seq[Double], k: Int, expand: Int = 4,
                      codes: Option[String] = None): DataFrame = {
    val coded = codes match {
      case Some(c) => df.withColumnRenamed(c, "__sq8")
      case None => df.withColumn("__sq8", sq8Encode(col(vec), mn, mx))
    }
    val shortlist = sq8TopK(coded, id, "__sq8", sq8EncodeVec(query, mn, mx), k * expand)
      .select(col(id))
    df.join(broadcast(shortlist), Seq(id))
      .select(col(id), gf.cosineSimilarity(col(vec), vecLit(query)).as("cosine"))
      .orderBy(desc("cosine"), col(id))
      .limit(k)
  }

  /**
   * kNN label propagation: classify each target vector by the majority
   * label of its k nearest labeled seeds (cosine) — the standard way a
   * small hand-labeled quality set bootstraps corpus-wide curation labels
   * (fastText-classifier-style filtering without the classifier).
   *
   * The seed set broadcasts (hand-labeled sets are small by construction);
   * each target scores the seeds in a crossJoin whose per-target window is
   * bounded by the seed count, so no partition ever exceeds |seeds| rows.
   * For seed sets too big to broadcast, prefilter candidates through the
   * IVF index (ivfTopKIndexed) and vote over its shortlist instead.
   * Cosines round to 6dp BEFORE ranking (cross-engine-stable order); all
   * ties — neighbor rank and vote — break deterministically.
   */
  def knnClassify(targets: DataFrame, seeds: DataFrame, id: String, vec: String,
                  label: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val t = targets.select(col(id).as("_tid"), col(vec).cast("array<double>").as("_tv"))
    val s = seeds.select(col(id).as("_sid"), col(vec).cast("array<double>").as("_sv"),
      col(label).as("_lbl"))
    val scored = t.crossJoin(broadcast(s))
      .select(col("_tid"), col("_sid"), col("_lbl"),
        graft.functions.gf.roundHalfUp(gf.cosineSimilarity(col("_tv"), col("_sv")), 6).as("_cos"))
    val wTop = Window.partitionBy(col("_tid")).orderBy(desc("_cos"), col("_sid"))
    val votes = scored
      .withColumn("_rn", row_number().over(wTop)).where(col("_rn") <= k)
      .groupBy(col("_tid"), col("_lbl")).agg(count(lit(1)).as("votes"))
    val wVote = Window.partitionBy(col("_tid")).orderBy(desc("votes"), col("_lbl"))
    // stored before the trailing sort: the range partitioner's sampling
    // pass otherwise re-executes the whole crossJoin chain
    Stored.once(votes.withColumn("_r", row_number().over(wVote)).where(col("_r") === 1)
      .select(col("_tid").as(id), col("_lbl").as(label), col("votes")))
      .orderBy(col(id))
  }

  /**
   * Hard-negative mining for contrastive / embedding training (DPR,
   * SBERT, CLIP-style losses): for each ANCHOR, the k candidates most
   * similar to it that carry a DIFFERENT label — the negatives that
   * actually move a contrastive loss (random negatives are trivially
   * separable and teach nothing). Anchors are the bounded labeled set
   * (broadcast by contract — the knnClassify seed-side shape); the
   * candidate corpus streams through once, scored per anchor, and the
   * per-anchor top-k resolves with one row_number window over partitions
   * keyed by anchor. An anchor never pairs with itself (same label). At
   * open scale shortlist candidates per anchor with ivfTopK first — the
   * mining join is unchanged, only the candidate feed shrinks.
   */
  def hardNegatives(anchors: DataFrame, candidates: DataFrame, id: String,
                    vec: String, label: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val a = anchors.select(col(id).as("anchor_id"),
      col(vec).cast("array<double>").as("_av"), col(label).as("_albl"))
    val c = candidates.select(col(id).as("neg_id"),
      col(vec).cast("array<double>").as("_cv"), col(label).as("_clbl"))
    val scored = c.crossJoin(broadcast(a))
      .where(col("_clbl") =!= col("_albl"))
      .select(col("anchor_id"), col("neg_id"),
        graft.functions.gf.roundHalfUp(gf.cosineSimilarity(col("_av"), col("_cv")), 6).as("cosine"))
    val w = Window.partitionBy(col("anchor_id")).orderBy(desc("cosine"), col("neg_id"))
    // stored before the trailing sort (anchors x k rows): the sort's
    // sampling pass must not re-run the corpus-wide scoring join
    Stored.once(scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k))
      .orderBy(col("anchor_id"), col("rank"))
  }
}
