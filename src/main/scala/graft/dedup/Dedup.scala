package graft.dedup

import graft.Stored
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.gf

/**
 * Corpus deduplication operators, designed scale-first: every variant is a
 * shuffle-bounded DataFrame pipeline (no driver-side state, no O(n^2) stage),
 * unlike the reference's single-actor pairwise SketchUniquify
 * (reference: lib/sycamore/sycamore/transforms/sketcher.py:64-90).
 *
 * All take/return DataFrames so they compose with any schema; `id` and `text`
 * are column names in `df`.
 *
 * Deployment note on multi-branch plans: AQE merges only identical
 * branches, and Catalyst prunes each branch of a plan to its own column set,
 * so two branches over the same input re-run the whole upstream plan (the
 * scan and every filter and sketch above it) once each. The operators that
 * consume their input from more than one branch — minhashLsh and
 * DocSet.sketchDedup (keep-set + semi-join side), exactRows and
 * exactRowsKeepBest (aggregate side + semi-join side + null-text union),
 * decontaminate and decontaminateBloom (shingle branch + anti-join side),
 * dedupIncrement (history joins + keep-set + semi-join side) — therefore
 * read it ONCE themselves, through one stored copy (`graft.Stored`) that
 * every branch reads: `once` in most, `now` in decontamination (see
 * dropContaminatedRows) and in dedupIncrement. Callers need not store
 * their input.
 */
object Dedup {

  /** Round-robin rebalance before a compute-heavy per-row stage (sketching
    * costs far more than the linear shuffle). Small inputs otherwise run in
    * one task when the source is a single file split; at scale this also
    * evens out skewed file sizes. */
  private def rebalance(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Validated rows-per-band: bands must divide numHashes exactly. A silent
    * floor-division would drop signature slots (recall loss), and
    * bands > numHashes would give rows = 0 — every distinct signature then
    * shares every band key and the band self-join degenerates into a full
    * O(n²) cross join of the corpus's signatures. */
  private[graft] def bandRows(numHashes: Int, bands: Int): Int = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) exactly")
    numHashes / bands
  }

  /** One `_band` row per LSH band of `sig` — the candidate key every
    * MinHash/sketch dedup path joins on. */
  private[graft] def bandKeys(sig: Column, numHashes: Int, bands: Int): Column =
    explode(gf.lshBandKeys(sig, bands, bandRows(numHashes, bands))).as("_band")

  /** MinHash similarity estimate of two signatures: the fraction of the
    * `numHashes` slots that match — the verify step behind every band
    * candidate. */
  private[graft] def slotMatch(a: Column, b: Column, numHashes: Int): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), m => m)).cast("double") / numHashes

  /**
   * Exact dedup: group by content hash, keep the smallest id per group.
   * One shuffle on a 192-bit key (xxhash64 + md5); map-side partial
   * aggregation applies. 64 bits alone would birthday-collide at the
   * billions-of-docs scale this targets (~50% chance of one collision at
   * 5B docs); the extra 128 bits make collisions cosmologically unlikely
   * while keeping the shuffle key 24 bytes instead of the full text.
   *
   * NULL-text rows (binary-only documents) carry no content to compare and
   * are EXCLUDED from the group summary — grouping them (groupBy treats
   * null keys as equal) would report every binary document in the corpus
   * as one giant duplicate class.
   */
  def exact(df: DataFrame, id: String, text: String): DataFrame =
    df.where(col(text).isNotNull)
      .groupBy(xxhash64(col(text)).as("content_hash"),
               unhex(md5(col(text))).as("content_md5"))
      .agg(min(col(id)).as(id), count(lit(1)).as("n_copies"))
      .drop("content_md5")

  /**
   * Exact-dedup the rows themselves: keep the min-id row per distinct text.
   * Implemented as an aggregation (not a window) — a single hash aggregate
   * beats sort-based windowing at scale.
   *
   * Both exchanges key on the 192-bit content hash (same rationale as
   * `exact` above), never on the text itself: the aggregate side carries
   * only (hash, id) rows, and the semi-join probes on (hash, id), so raw
   * document text appears in a shuffle only as row payload on the kept
   * side — never as a grouping or join key. An earlier version grouped and
   * joined on the raw text column, which made every exchange comparator
   * walk full documents.
   *
   * NULL-text rows (binary-only documents) are not comparable and are ALL
   * KEPT — same contract as minhashLsh's null-signature rule. An earlier
   * version ran them through the hash path, where the null md5 key grouped
   * (groupBy equates nulls) but never matched the equi-semi-join (join
   * EqualTo does not), silently DELETING every binary-only document.
   *
   * The input is read once: one stored copy that the aggregate side, the
   * semi-join side and the null-text union all read.
   */
  def exactRows(df: DataFrame, id: String, text: String): DataFrame = {
    val in = Stored.once(df)
    val hashed = in.where(col(text).isNotNull)
      .withColumn("_content_hash", xxhash64(col(text)))
      .withColumn("_content_md5", unhex(md5(col(text))))
    val keyed = hashed.select(col("_content_hash"), col("_content_md5"), col(id))
      .groupBy(col("_content_hash"), col("_content_md5"))
      .agg(min(col(id)).as(id))
    hashed.join(keyed, Seq("_content_hash", "_content_md5", id), "left_semi")
      .drop("_content_hash", "_content_md5")
      .unionByName(in.where(col(text).isNull))
  }

  /**
   * Exact dedup keeping the BEST row per duplicate group instead of the
   * min-id one — what curation pipelines actually want (keep the copy with
   * the highest quality score / longest text / freshest crawl; Gopher and
   * FineWeb both retain by quality). `better` ranks rows (numeric, higher
   * = better); ties break by min id so the result is deterministic and
   * partitioning-independent.
   *
   * Same 192-bit-key shape as exactRows: the aggregate side carries only
   * (hash, rank-key, id), map-side combine collapses duplicate-heavy
   * partitions before the shuffle (min_by over a struct is an order-free
   * aggregate — no window, so a pathological million-copy document cannot
   * funnel one task), and text rides only as payload on the kept side.
   * Like exactRows, it reads its input once through one stored copy.
   */
  def exactRowsKeepBest(df: DataFrame, id: String, text: String,
                        better: Column): DataFrame = {
    // null-text rows bypass the hash path entirely (see exactRows)
    val in = Stored.once(df)
    val hashed = in.where(col(text).isNotNull)
      .withColumn("_content_hash", xxhash64(col(text)))
      .withColumn("_content_md5", unhex(md5(col(text))))
      .withColumn("_rank", better)
    // "highest rank, then lowest id" as ONE orderable struct: min_by over
    // (-rank, id) — negating the rank (not the id) keeps string ids legal.
    // A NULL rank coalesces to -Infinity (worst): struct ordering sorts
    // null fields FIRST, so an un-coalesced null-ranked copy would beat
    // every real-ranked copy; with the coalesce a null-ranked row wins
    // only when the whole group is null-ranked (then min id is kept).
    val keyed = hashed
      .select(col("_content_hash"), col("_content_md5"), col("_rank"), col(id))
      .groupBy(col("_content_hash"), col("_content_md5"))
      .agg(min_by(col(id),
        struct(negate(coalesce(col("_rank").cast("double"),
          lit(Double.NegativeInfinity))), col(id))).as(id))
    hashed.join(keyed, Seq("_content_hash", "_content_md5", id), "left_semi")
      .drop("_content_hash", "_content_md5", "_rank")
      .unionByName(in.where(col(text).isNull))
  }

  /**
   * MinHash-LSH candidate pairs: docs sharing >= 1 LSH band of their minhash
   * signature. Returns (idA, idB, estJaccard) with idA < idB.
   *
   * Scale shape: explode to (bandKey, id, signature) -> self-join on bandKey.
   * Shuffle volume is rows x bands; band buckets are small when signatures
   * are discriminative, so the join output stays near-linear in the number
   * of true near-dup pairs. estJaccard = fraction of matching signature
   * slots (standard MinHash estimator).
   */
  def minhashLshPairs(df: DataFrame, id: String, text: String,
                      shingleSize: Int = 5, numHashes: Int = 16,
                      bands: Int = 4, threshold: Double = 0.5,
                      signature: Option[Column => Column] = None): DataFrame = {
    val sigFn = signature.getOrElse((t: Column) =>
      gf.minhashSignature(gf.wordShingles(t, shingleSize), numHashes))
    val sig = rebalance(df.select(col(id).as("_id"), col(text).as("_t")))
      .select(col("_id"), sigFn(col("_t")).as("_sig"))
    // Join DISTINCT SIGNATURES, not documents (same rationale as
    // simhashPairs): exact-duplicate classes collapse before the quadratic
    // stage; identical signatures short-circuit as est_jaccard = 1 pairs.
    // NULL signatures are not comparable and produce NO pairs — grouping
    // them would emit false est=1.0 pairs among all binary-only docs.
    val groups = sig.where(col("_sig").isNotNull)
      .groupBy(col("_sig")).agg(collect_list(col("_id")).as("_ids"))
    val intra = groups.where(size(col("_ids")) > 1)
      .select(col("_ids"), explode(col("_ids")).as("idA"))
      .select(col("idA"), explode(col("_ids")).as("idB"))
      .where(col("idA") < col("idB"))
      .select(col("idA"), col("idB"), lit(1.0).as("est_jaccard"))
      .where(lit(1.0) >= threshold)
    // repartition on the band key: (a) a shuffle barrier so CollapseProject
    // can't inline the signature into both self-join branches — the scan +
    // sketch runs once and both sides read the same reused exchange;
    // (b) the join arrives pre-partitioned, so no further shuffle.
    val banded = groups
      .select(col("_sig"), col("_ids"), bandKeys(col("_sig"), numHashes, bands))
      .repartition(col("_band"))
    val a = banded.select(col("_band"), col("_sig").as("sigA"), col("_ids").as("idsA"))
    val b = banded.select(col("_band"), col("_sig").as("sigB"), col("_ids").as("idsB"))
    val est = slotMatch(col("sigA"), col("sigB"), numHashes)
    val inter = a.join(b, Seq("_band"))
      .where(col("sigA") < col("sigB")) // arrays compare lexicographically
      .select(col("sigA"), col("sigB"), col("idsA"), col("idsB"), est.as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
      .dropDuplicates("sigA", "sigB") // band multiplicity, pre-expansion
      .select(col("est_jaccard"), explode(col("idsA")).as("a"), col("idsB"))
      .select(col("est_jaccard"), col("a"), explode(col("idsB")).as("b"))
      .select(least(col("a"), col("b")).as("idA"),
        greatest(col("a"), col("b")).as("idB"), col("est_jaccard"))
    intra.unionAll(inter)
  }

  /**
   * Per-document dedup fingerprints — the compact state an INCREMENTAL
   * curation pipeline materializes once per accepted batch: the 192-bit
   * exact-content key (xxhash64 + md5, the `exact` family's key) plus the
   * minhash signature. `dedupIncrement` matches new batches against this
   * frame without ever touching historical text again; fingerprint rows
   * are a few hundred bytes regardless of document size.
   */
  def fingerprints(df: DataFrame, id: String, text: String,
                   shingleSize: Int = 5, numHashes: Int = 16,
                   signature: Option[Column => Column] = None): DataFrame = {
    val sigFn = signature.getOrElse((t: Column) =>
      gf.minhashSignature(gf.wordShingles(t, shingleSize), numHashes))
    df.select(col(id).as("fp_id"),
      xxhash64(col(text)).as("content_hash"),
      unhex(md5(col(text))).as("content_md5"),
      sigFn(col(text)).as("sig"))
  }

  /**
   * Incremental dedup of a NEW batch against an already-curated history
   * (a [[fingerprints]] frame) — the shape a production pipeline runs
   * daily, where re-deduping the full corpus is off the table at 100 TB:
   *  1. exact drops: batch rows whose 192-bit content key exists in
   *     history (anti-join on the key — text never shuffles as a key);
   *  2. near drops: batch rows whose minhash signature shares an LSH band
   *     with ANY history signature at est-jaccard ≥ threshold (history
   *     always wins — no id ordering against history);
   *  3. within-batch: `minhashLsh`'s greedy min-id rule over the
   *     HISTORY-SURVIVORS (a batch row removed by history does not drop
   *     other batch rows — the documented order).
   * Rules 1 and 2 apply per ROW: a batch row that history drops stays
   * dropped even when another surviving batch row shares its id. Rule 3
   * keeps ids, as `minhashLsh` does.
   *
   * What is read, shuffled and broadcast:
   *  - the batch is read, hashed and sketched once, by one job that
   *    stores it (`Stored.now`: AQE submits the branches' first stages
   *    concurrently) and that every branch then reads. The batch keeps
   *    its input partitioning: a rebalance before the sketch costs one
   *    more shuffle and measured no faster on 40-row appends;
   *  - history enters as two plain projections, its content keys and its
   *    signatures exploded to band keys, with no aggregate: the anti-join
   *    and the band join tolerate duplicate keys. Each is the build side
   *    of its join, broadcast while under
   *    `spark.sql.autoBroadcastJoinThreshold`; above it the planner's
   *    sort-merge join would shuffle it (a fingerprint store partitioned
   *    by band key is the scale path, not built yet);
   *  - every shuffle carries batch rows or batch signatures only: the
   *    within-batch keep-set and the per-row cut.
   */
  def dedupIncrement(batch: DataFrame, id: String, text: String,
                     history: DataFrame,
                     shingleSize: Int = 5, numHashes: Int = 16,
                     bands: Int = 4, threshold: Double = 0.5,
                     signature: Option[Column => Column] = None): DataFrame = {
    val sigFn = signature.getOrElse((t: Column) =>
      gf.minhashSignature(gf.wordShingles(t, shingleSize), numHashes))
    val in = Stored.now(batch
      .withColumn("_ch", xxhash64(col(text)))
      .withColumn("_cm", unhex(md5(col(text))))
      .withColumn("_sig", sigFn(col(text))))
    val exactSurv = in.join(
      history.select(col("content_hash").as("_ch"), col("content_md5").as("_cm")),
      Seq("_ch", "_cm"), "left_anti")
    val dropSigs = exactSurv.select(col("_sig"), bandKeys(col("_sig"), numHashes, bands))
      .join(history.select(col("sig"), bandKeys(col("sig"), numHashes, bands)), Seq("_band"))
      .where(slotMatch(col("_sig"), col("sig"), numHashes) >= threshold)
      .select(col("_sig"))
    val surv = exactSurv.join(dropSigs, Seq("_sig"), "left_anti")
    surv.join(minhashLshKeepIds(surv.select(col(id).as("_id"), col("_sig")), id,
        numHashes, bands, threshold), Seq(id), "left_semi")
      .drop("_ch", "_cm", "_sig")
  }

  /**
   * MinHash-LSH dedup: drop near-duplicates, keeping the smallest id of each
   * candidate group (greedy: any doc matched by a smaller-id doc is dropped).
   *
   * Cheaper than `minhashLshPairs -> distinct(idB)`: the drop set never
   * needs the doc-pair expansion. With per-signature groups, the greedy rule
   * decomposes exactly into (a) intra-group: every non-min id of a
   * signature class is dropped by its min (est = 1); (b) cross-group: for a
   * qualifying signature pair only the LARGER of the two group-min ids can
   * newly drop — every other member is already dropped by (a). So the band
   * self-join carries one id per distinct signature instead of the full id
   * lists, and the dropDuplicates + double-explode tail of the pairs path
   * (the round-2 bench regression) disappears while producing the
   * identical kept set.
   *
   * The input is read once: one stored copy that the keep-set job fills
   * and the semi-join side reads.
   */
  def minhashLsh(df: DataFrame, id: String, text: String,
                 shingleSize: Int = 5, numHashes: Int = 16,
                 bands: Int = 4, threshold: Double = 0.5,
                 signature: Option[Column => Column] = None): DataFrame = {
    val sigFn = signature.getOrElse((t: Column) =>
      gf.minhashSignature(gf.wordShingles(t, shingleSize), numHashes))
    val in = Stored.once(df)
    val sig = rebalance(in.select(col(id).as("_id"), col(text).as("_t")))
      .select(col("_id"), sigFn(col("_t")).as("_sig"))
    in.join(minhashLshKeepIds(sig, id, numHashes, bands, threshold),
      Seq(id), "left_semi")
  }

  /** The keep-set half of [[minhashLsh]] over an already-computed
    * (_id, _sig) frame — exposed so callers that need the signatures
    * anyway (the streaming near-dup log) sketch the corpus ONCE.
    *
    * KEEP-set formulation: survivors are exactly {group min ids} minus
    * {greater min of each qualifying cross pair} — every non-min member of
    * a signature class is dropped by its own min (est = 1), so only group
    * mins can survive, and a min survives iff no qualifying pair gives it a
    * smaller counterpart. This needs ONE aggregate flavor (min) — an
    * earlier drop-set version also collected the full id lists, and that
    * second aggregate flavor stopped AQE from reusing the scan→sketch→
    * shuffle stage across branches: signatures were computed three times.
    *
    * NULL signatures (null text, or text too short to shingle) are not
    * comparable and are ALWAYS kept — grouping them would silently collapse
    * every binary-only document in a batch onto one survivor. */
  private[graft] def minhashLshKeepIds(sig: DataFrame, id: String,
                                       numHashes: Int, bands: Int,
                                       threshold: Double): DataFrame = {
    val groups = sig.where(col("_sig").isNotNull)
      .groupBy(col("_sig")).agg(min(col("_id")).as("_min"))
    // repartition = shuffle barrier + the self-join arrives co-partitioned
    val banded = groups
      .select(col("_sig"), col("_min"), bandKeys(col("_sig"), numHashes, bands))
      .repartition(col("_band"))
    val a = banded.select(col("_band"), col("_sig").as("sigA"), col("_min").as("minA"))
    val b = banded.select(col("_band"), col("_sig").as("sigB"), col("_min").as("minB"))
    // two rows sharing an id land in different groups when their
    // signatures differ: an id must never be dropped by its own copy
    val crossDrops = a.join(b, Seq("_band"))
      .where(col("sigA") < col("sigB") && !(col("minA") <=> col("minB")))
      .where(slotMatch(col("sigA"), col("sigB"), numHashes) >= threshold)
      .select(greatest(col("minA"), col("minB")).as(id))
    // no distinct() on crossDrops: left_anti tolerates duplicate keys, and
    // the dedup exchange would cost more than the duplicates it removes
    groups.select(col("_min").as(id))
      .join(crossDrops, Seq(id), "left_anti")
      .unionByName(sig.where(col("_sig").isNull).select(col("_id").as(id)))
  }

  /**
   * SimHash near-dup candidate pairs: simhash sketch, bucketed by
   * `maxHamming + 1` bit-chunks (pigeonhole: a pair at hamming distance
   * <= maxHamming differs in at most maxHamming chunks, so at least one
   * chunk is identical), verified by exact hamming distance. Chunk count
   * deriving from maxHamming is the recall guarantee — a fixed chunking
   * (the round-1 four-quarters bug) silently misses pairs whose differing
   * bits spread across every chunk.
   *
   * Scale note: bucket discrimination is bits/(maxHamming+1) per chunk —
   * 16 bits at maxHamming=3, ~7 bits at maxHamming=8. Radius-8 search over
   * a 64-bit sketch inherently produces coarser buckets; the exact-hamming
   * verify keeps the OUTPUT correct while the candidate join grows. Keep
   * maxHamming modest at corpus scale, or raise `bits` with a wider sketch.
   *
   * `simhashFn` is the sketch (default 64-bit xxhash-token simhash); the
   * gate passes the SQL-replicable polynomial variant so DuckDB can verify.
   */
  def simhashPairs(df: DataFrame, id: String, text: String,
                   maxHamming: Int = 3,
                   simhashFn: Column => Column = gf.simhash64(_),
                   bits: Int = 64,
                   persistGroups: Boolean = true): DataFrame = {
    val chunks = math.min(maxHamming + 1, bits)
    // distribute `bits` over `chunks` as evenly as possible
    val widths = Array.tabulate(chunks)(q => bits / chunks + (if (q < bits % chunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val hashed = rebalance(df.select(col(id).as("_id"), col(text).as("_t")))
      .select(col("_id"), simhashFn(col("_t")).as("_sh"))
      // a null sketch (e.g. an undecodable image for the dHash sketch) must
      // not group with other nulls as a fake hamming-0 duplicate class
      .where(col("_sh").isNotNull)
    // Join DISTINCT SKETCHES, not documents: real corpora carry huge
    // exact-duplicate classes (identical sketches), so grouping first makes
    // the candidate join quadratic in distinct sketch values and the doc-pair
    // volume appears only at the final, unavoidable expansion.
    //
    // PERSISTED (r22): `groups` is scanned three times below (intra pairs +
    // both sides of the chunk join), each scan sits behind its own
    // AdaptiveSparkPlan boundary, and AQE does not reuse exchanges across
    // those boundaries — so without the persist the SKETCH FUNCTION and the
    // collect_list aggregation re-execute per scan (3x simhash64 over full
    // text for the text gate, 3x aHash/dHash decode for the media gates; a
    // warm q_video_e2e pairs stage carried 14 live Exchanges and 6
    // ObjectHashAggregates, zero reused). The frame is support-sized
    // (distinct sketches), the same bound as FuzzyJoin's load-bearing
    // internal store.
    // `persistGroups=false` opts out for callers whose sketch is cheaper to
    // recompute than the cache-fill barrier costs (measured: the polynomial
    // text sketch at sf0.1, 1.26→1.48 s persisted, while the decode-backed
    // aHash/dHash sketches win 0.83×/0.89×).
    val groupsBare = hashed.groupBy(col("_sh")).agg(collect_list(col("_id")).as("_ids"))
    val groups = if (persistGroups)
      Stored.cached(groupsBare)
    else groupsBare
    // (a) intra-group pairs: identical sketch -> hamming 0
    val intra = groups.where(size(col("_ids")) > 1)
      .select(col("_ids"), explode(col("_ids")).as("idA"))
      .select(col("idA"), explode(col("_ids")).as("idB"))
      .where(col("idA") < col("idB"))
      .select(col("idA"), col("idB"), lit(0).as("hamming"))
    // (b) cross-group pairs via chunk bucketing over distinct sketches
    val chunked = groups.select(col("_sh"), col("_ids"),
      explode(array((0 until chunks).map { q =>
        // width can be 64 (maxHamming=0): (1L << 64) == 1L in JVM shift
        // semantics, so the mask must special-case the full word
        val mask = if (widths(q) >= 64) -1L else (1L << widths(q)) - 1L
        struct(lit(q).as("q"), shiftrightunsigned(col("_sh"), offsets(q))
          .bitwiseAND(lit(mask)).as("v"))
      }: _*)).as("_chunk"))
      .repartition(col("_chunk"))
    val a = chunked.select(col("_chunk"), col("_sh").as("shA"), col("_ids").as("idsA"))
    val b = chunked.select(col("_chunk"), col("_sh").as("shB"), col("_ids").as("idsB"))
    // Chunk-multiplicity dedup WITHOUT a shuffle: a pair sharing m chunks
    // appears m times in the join; keep only the row whose chunk is the
    // FIRST index where the sketches agree. The check is pure bit math on
    // (shA, shB) — the dropDuplicates exchange it replaces was the most
    // expensive stage of this pipeline at sf0.1.
    def chunkVal(c: Column, qq: Int): Column = {
      val mask = if (widths(qq) >= 64) -1L else (1L << widths(qq)) - 1L
      shiftrightunsigned(c, offsets(qq)).bitwiseAND(lit(mask))
    }
    val qIdx = col("_chunk").getField("q")
    val firstMatchingChunk = (0 until chunks).map { qq =>
      when(lit(qq) >= qIdx, lit(true))
        .otherwise(chunkVal(col("shA"), qq) =!= chunkVal(col("shB"), qq))
    }.reduce(_ && _)
    val sketchPairs = a.join(b, Seq("_chunk"))
      .where(col("shA") < col("shB"))
      .where(firstMatchingChunk)
      .select(col("shA"), col("shB"), col("idsA"), col("idsB"),
        gf.hamming64(col("shA"), col("shB")).as("hamming"))
      .where(col("hamming") > 0 && col("hamming") <= maxHamming)
    val inter = sketchPairs
      .select(col("hamming"), explode(col("idsA")).as("a"), col("idsB"))
      .select(col("hamming"), col("a"), explode(col("idsB")).as("b"))
      .select(least(col("a"), col("b")).as("idA"),
        greatest(col("a"), col("b")).as("idB"), col("hamming"))
    intra.unionAll(inter)
  }

  /**
   * Exact n-gram Jaccard pairs: inverted index on distinct word shingles,
   * pair counts via self-join + aggregation, |A u B| from per-doc distinct
   * counts. Exact (not an estimate); shuffle-bounded by shingle
   * frequency — hot shingles should be pre-filtered at extreme scale
   * (we cap via `maxShingleFreq`).
   *
   * Formulation settled by measurement (sf0.1, local[32], 4 warm iterations
   * each): this count-carrying postings shape runs 3.7 s median; a
   * co-partitioned self-join on the exploded (shingle, id, n) rows ran
   * 4.6 s; postings keyed on a 96-bit shingle hash instead of the string
   * ran 4.5 s (the per-shingle hash + struct build costs more than the
   * narrower shuffle key saves at this SF). The 7.3 s recorded in the r3
   * one-shot bench is first-execution codegen/position noise, not a plan
   * property — warm runs of the identical plan sit at half that.
   */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String,
                        shingleSize: Int = 5, threshold: Double = 0.5,
                        maxShingleFreq: Long = 1000): DataFrame = {
    // Single-pipeline shape: each doc's distinct-shingle COUNT rides along
    // with every posting, so pair counts and both denominators come out of
    // one inverted-index aggregation — no per-doc counts branch, no
    // frequency semi-join branch, no a/b re-derivation. An earlier version
    // fanned the exploded shingles into four consumers; column pruning made
    // each branch's subtree unique, so the scan + shingling ran SIX times
    // (6.3 s at sf0.1 for 4 exchanges of real work).
    val postings = rebalance(df.select(col(id).as("_id"), col(text).as("_t")))
      .select(col("_id"),
        array_distinct(gf.wordShingles(col("_t"), shingleSize)).as("_shs"))
      .select(col("_id"), size(col("_shs")).as("_n"), explode(col("_shs")).as("_sh"))
      .groupBy(col("_sh"))
      .agg(collect_list(struct(col("_id"), col("_n"))).as("_ps"))
    // Stop-shingles whose posting list exceeds the cap are dropped before
    // the quadratic expansion (documented under-count for hot shingles);
    // singleton lists produce no pairs.
    val pairs = postings
      .where(size(col("_ps")).between(2, maxShingleFreq))
      .select(col("_ps"), explode(col("_ps")).as("_a"))
      .select(col("_a"), explode(col("_ps")).as("_b"))
      .where(col("_a._id") < col("_b._id"))
      .groupBy(col("_a._id").as("idA"), col("_a._n").as("_nA"),
        col("_b._id").as("idB"), col("_b._n").as("_nB"))
      .agg(count(lit(1)).as("_shared"))
    pairs
      .select(col("idA"), col("idB"),
        (col("_shared").cast("double") /
          (col("_nA") + col("_nB") - col("_shared"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /**
   * Shingle-CONTAINMENT pairs: ordered (inner, outer) where
   * |shingles(inner) ∩ shingles(outer)| / |shingles(inner)| ≥ τ — "inner
   * is (mostly) quoted inside outer". Jaccard misses exactly this case: a
   * paragraph embedded in a 100× longer page has tiny Jaccard but
   * containment ≈ 1, and quote/subset relationships are what benchmark
   * contamination and boilerplate-reuse audits need (Broder 1997
   * distinguishes resemblance from containment for the same reason).
   *
   * Same single-pipeline inverted-index shape as [[ngramJaccardPairs]]
   * (count-carrying postings, stop-shingle cap before the quadratic
   * expansion); each unordered candidate pair emits up to two ordered
   * rows. The threshold compares by integer cross-multiplication
   * (shared·1000 ≥ τ‰·n_inner) — no float division on the filter path.
   */
  def containmentPairs(df: DataFrame, id: String, text: String,
                       shingleSize: Int = 5, tauPermille: Int = 800,
                       maxShingleFreq: Long = 1000): DataFrame = {
    require(tauPermille >= 1 && tauPermille <= 1000,
      s"tauPermille must be in [1, 1000]: $tauPermille")
    val postings = rebalance(df.select(col(id).as("_id"), col(text).as("_t")))
      .select(col("_id"),
        array_distinct(gf.wordShingles(col("_t"), shingleSize)).as("_shs"))
      .select(col("_id"), size(col("_shs")).as("_n"), explode(col("_shs")).as("_sh"))
      .groupBy(col("_sh"))
      .agg(collect_list(struct(col("_id"), col("_n"))).as("_ps"))
    val pairs = postings
      .where(size(col("_ps")).between(2, maxShingleFreq))
      .select(col("_ps"), explode(col("_ps")).as("_a"))
      .select(col("_a"), explode(col("_ps")).as("_b"))
      .where(col("_a._id") < col("_b._id"))
      .groupBy(col("_a._id").as("idA"), col("_a._n").cast("long").as("_nA"),
        col("_b._id").as("idB"), col("_b._n").cast("long").as("_nB"))
      .agg(count(lit(1)).as("_shared"))
    // both directions from ONE reference to the pair frame (a union of two
    // projections would inline the aggregation subtree twice)
    pairs
      .select(explode(array(
        struct(col("idA").as("inner_id"), col("idB").as("outer_id"),
          col("_shared"), col("_nA").as("n_inner")),
        struct(col("idB").as("inner_id"), col("idA").as("outer_id"),
          col("_shared"), col("_nB").as("n_inner")))).as("_e"))
      .select(col("_e.*"))
      .where(col("_shared") * 1000 >= lit(tauPermille.toLong) * col("n_inner"))
      .select(col("inner_id"), col("outer_id"), col("_shared").as("shared"),
        col("n_inner"),
        expr("_shared * 1000 DIV n_inner").as("containment_permille"))
  }

  /**
   * Embedding near-dup pairs: cosine >= threshold among vectors sharing a
   * coarse bucket. `bucket` should be a cheap partitioner (a cluster label,
   * an LSH sign-bucket, ...) that co-locates near-neighbors; comparisons are
   * quadratic only within buckets.
   *
   * Oversize-bucket guard (the hot-key contract, same family as the
   * jaccard path's `maxShingleFreq` cap at [[ngramJaccardPairs]]): the
   * bucket column is caller-supplied and near-duplicate-heavy corpora —
   * exactly the dedup use case — concentrate mass on few centroids, so an
   * unguarded hot bucket costs B² pairs on ONE join key. Buckets wider
   * than `maxBucketSize` are sub-split by a secondary id-hash into
   * ceil(B/maxBucketSize) sub-buckets, bounding the quadratic at
   * ~maxBucketSize² per sub-bucket AND spreading the hot key across
   * reducers. Documented under-count: pairs straddling two sub-splits of
   * the same hot bucket are missed — strictly better than the reference's
   * contract (SketchUniquify is O(n²) on a single actor), and within-split
   * recall stays exact. Set maxBucketSize <= 0 to disable. When the cap is
   * active, the oversize probe runs ONE aggregation job at
   * DataFrame-construction time (bucket column only, map-side combined) —
   * a caller constructing frames it may never execute should pass 0.
   * Oversize buckets are counted and logged at WARN so the under-count is
   * observable.
   */
  def embeddingCosinePairs(df: DataFrame, id: String, vec: String, bucket: Column,
                           threshold: Double, maxBucketSize: Int = 8192): DataFrame = {
    // normalize each vector ONCE before the join (repartition = shuffle
    // barrier + co-partitioned self-join) — cosine per candidate pair is
    // then a single dot-product fold instead of dot + two norms per pair.
    // The norm is a separate column COMPUTED BEFORE the exchange: dividing
    // by gf.l2Norm(col(vec)) inside the transform lambda would re-run the
    // O(d) norm fold per element (no subexpression elimination inside
    // higher-order-function lambdas) -> O(d^2) per row. The repartition
    // barrier keeps CollapseProject from inlining it back.
    val v0 = df.select(col(id).as("_id"), col(vec).as("_raw"),
        gf.l2Norm(col(vec)).as("_n"), bucket.as("_bkt"))
      // zero-norm (degenerate) vectors have no direction: cosine against
      // them is 0 < any positive threshold, so they pair with nothing —
      // and dividing by the zero norm would throw under ANSI mode
      .where(col("_n") =!= 0.0)
      .repartition(col("_bkt"))
      .select(col("_id"), col("_bkt"),
        transform(col("_raw"), x => x.cast("double") / col("_n")).as("_v"))
    // sub-split assignment. The isEmpty probe is the AQE-philosophy size
    // gate (same as connectedComponents' localFinishEdges): with no hot
    // bucket the join keeps the single-key (_bkt) shape and REUSES the
    // repartition exchange (zero extra shuffle); only a corpus that
    // actually concentrates pays the (_bkt, _sub) re-shuffle — which is
    // exactly what spreads the hot key across reducers. The probe itself
    // aggregates the RAW frame on the bucket column alone (map-side
    // combined, column-pruned, BEFORE the normalize + repartition subtree
    // — probing v0 would execute that whole subtree a second time, +50%
    // on the gate) and skips the zero-norm filter: counting degenerate
    // vectors only OVER-counts a bucket, so the guard stays conservative.
    // Only OVERSIZED entries survive (<= n/maxBucketSize rows by
    // definition), so the broadcast back is bounded; normal buckets get
    // sub-bucket 0 via the null-count branch.
    val (v, keys) =
      if (maxBucketSize <= 0) (v0, Seq("_bkt"))
      else {
        val over = df.select(bucket.as("_bkt"))
          .groupBy(col("_bkt")).agg(count(lit(1)).as("_cnt"))
          .where(col("_cnt") > maxBucketSize.toLong)
        // count(), not isEmpty: same single probe job, and the hot-bucket
        // count makes the cap's under-count OBSERVABLE (r20, ADVICE) —
        // pairs straddling sub-splits of a hot bucket are missed, which
        // must be a logged fact, not a silent one
        val nHot = over.count()
        if (nHot > 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"embeddingCosinePairs: $nHot buckets exceed maxBucketSize=" +
              s"$maxBucketSize and are sub-split by id-hash — near-dup " +
              "pairs straddling two sub-splits of the same hot bucket are " +
              "under-counted (pass maxBucketSize=0 for exact recall)")
        if (nHot == 0L) (v0, Seq("_bkt"))
        else {
          val split = v0.join(broadcast(over), Seq("_bkt"), "left")
            .withColumn("_sub",
              when(col("_cnt").isNull, lit(0L))
                .otherwise(pmod(xxhash64(col("_id")),
                  ceil(col("_cnt").cast("double") / lit(maxBucketSize.toDouble)).cast("long"))))
            .drop("_cnt")
          (split, Seq("_bkt", "_sub"))
        }
      }
    val a = v.select(col("_id").as("idA") +: col("_v").as("vA") +: keys.map(col): _*)
    val b = v.select(col("_id").as("idB") +: col("_v").as("vB") +: keys.map(col): _*)
    a.join(b, keys)
      .where(col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        gf.dotProduct(col("vA"), col("vB")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /**
   * Connected components over an undirected edge list, by alternating
   * large-star / small-star rounds (Kiveris et al., "Connected Components
   * in MapReduce and Beyond", SoCC'14 — the standard shuffle-bounded CC for
   * corpora where near-dup relations chain: A~B, B~C but not A~C).
   * Converges in O(log n) rounds on any graph, each round two aggregate +
   * join passes and a distinct; storing each round's edges truncates the
   * otherwise exponentially-growing iterative lineage.
   *
   * Returns (id, component) for every node that appears in `edges`,
   * component = smallest id reachable. Greedy min-id dedup (minhashLsh) is
   * NOT transitive — this is: use it when duplicate classes must be closed
   * under chaining before choosing survivors.
   */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
                          maxIter: Int = 30,
                          localFinishEdges: Long = 1L << 20): DataFrame = {
    // integral ids ONLY, enforced loudly: cast("long") on a UUID-style
    // string id nulls every edge in non-ANSI mode — the operator would
    // return the corpus completely undeduped with no error
    val integral = Seq(src, dst).forall(c => edges.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    })
    require(integral,
      s"connectedComponents needs integral id columns ($src/$dst); for string ids " +
        "use minhashLshCC, which runs the string-ordered variant internally")
    ccImpl(edges, src, dst, maxIter, localFinishEdges, stringIds = false)
  }

  /** Shared star-contraction implementation; `stringIds` switches the id
    * domain (and the "smallest id" order) between long and lexicographic
    * string — every expression in the loop (greatest/least/min/xxhash64)
    * is type-generic. */
  private def ccImpl(edges: DataFrame, src: String, dst: String,
                     maxIter: Int, localFinishEdges: Long,
                     stringIds: Boolean): DataFrame = {
    val idType = if (stringIds) "string" else "long"
    val nodes = edges
      .select(explode(array(col(src).cast(idType), col(dst).cast(idType))).as("id"))
      .distinct()
    // size the loop's parallelism to the edge count: CC rounds run over the
    // (small) edge set, not the corpus — at 32 default partitions a 5k-edge
    // graph pays ~12 rounds x 5 stages of empty-task scheduling. One
    // partition per 100k edges, floor 1, cap at the session default.
    val parallelism = edges.sparkSession.sparkContext.defaultParallelism
    var e = Stored.now(edges
      .select(col(src).cast(idType).as("u"), col(dst).cast(idType).as("v"))
      .where(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct())
    val edgeCount = e.count()
    // Size-gated local finish: below the threshold the residual graph fits
    // in bounded driver memory — honestly accounted: 1M edges collect as
    // ~1M boxed Rows plus the union-find map and the broadcast mapping,
    // a few hundred MB TRANSIENT at the cap, not just the 16 MB of raw
    // longs — and a single union-find pass replaces O(log n) distributed
    // rounds (~10 jobs of scheduling latency). Mirrors AQE's philosophy
    // (re-plan on observed size): the distributed star-contraction loop is
    // the 100 TB path for billion-edge near-dup graphs; the endgame of a
    // SPARSE duplicate graph (the common corpus case) is a small edge set
    // that no longer pays for distribution. The count is already needed to
    // size the loop parallelism, so the gate adds no extra job. Set
    // localFinishEdges = 0 to force the distributed loop (unit tests do).
    if (edgeCount <= localFinishEdges) {
      val rows = e.select(col("u"), col("v")).collect()
      val mapping =
        if (stringIds)
          e.sparkSession.createDataFrame(
            localUnionFind(rows.map(r => (r.getString(0), r.getString(1)))).toSeq)
            .toDF("id", "component")
        else
          e.sparkSession.createDataFrame(
            localUnionFind(rows.map(r => (r.getLong(0), r.getLong(1)))).toSeq)
            .toDF("id", "component")
      return nodes.join(broadcast(mapping), Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    }
    val nParts = math.max(1, math.min(parallelism, (edgeCount / 100000L).toInt))
    e = Stored.now(e.repartition(nParts))
    var fingerprint = -1L
    var iter = 0
    var converged = false
    // Note: AQE stays ON through the loop deliberately — its partition
    // coalescing and exchange reuse are what keep the 5-6 tiny stages per
    // round cheap (measured: disabling AQE here is ~10x slower at 32
    // shuffle partitions).
    while (iter < maxIter && !converged) {
      // large-star: m(u) = min over Γ(u) ∪ {u}; every neighbor v > u hooks
      // onto m — long chains halve in height each round
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val largeMin = sym.groupBy(col("u")).agg(min(col("v")).as("_mv"))
        .select(col("u"), least(col("_mv"), col("u")).as("m"))
      // no distinct here: duplicate (v, m) edges are collapsed by the
      // small-star min aggregate and the round-final distinct anyway — the
      // extra exchange cost more than the duplicates it removed
      val large = sym.join(largeMin, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
      // small-star: key each edge by its larger endpoint; all smaller
      // neighbors (and the center) hook onto the minimum
      val smallMin = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = Stored.once(large.join(smallMin, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(smallMin.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct())
      // convergence: order-independent edge-set fingerprint (count + xor of
      // edge hashes — xor, not sum: ANSI mode makes a long-sum overflow
      // throw, and edges are distinct so no pair cancels)
      val fp = small.agg(
        count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h")).head()
      val next = fp.getLong(0) * 31L + fp.getLong(1)
      converged = next == fingerprint
      fingerprint = next
      e = small
      iter += 1
    }
    // at the fixpoint the edge set is a star forest — exactly one row per
    // non-root node. A maxIter too small for the graph would instead leave
    // multiple (id, component) rows per node and silently corrupt every
    // downstream keep-one decision: fail loudly instead.
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — raise maxIter")
    nodes.join(e.select(col("u").as("id"), col("v").as("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Union-find with path compression, min-id roots (component = smallest
    * reachable id under the type's ordering — the same contract as the
    * distributed loop). Driver-side endgame for edge sets under
    * `localFinishEdges`; memory is O(|nodes in edges|), bounded by the gate. */
  private[dedup] def localUnionFind[T](pairs: Array[(T, T)])
                                      (implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x: T): T = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (u, v) =>
      val ru = find(u); val rv = find(v)
      if (ru != rv) { if (ord.lt(ru, rv)) parent(rv) = ru else parent(ru) = rv }
    }
    val out = Map.newBuilder[T, T]
    pairs.foreach { case (u, v) => out += (u -> find(u)); out += (v -> find(v)) }
    out.result()
  }

  /**
   * Transitive MinHash-LSH dedup: candidate pairs -> connected components ->
   * keep the smallest id per component. The greedy `minhashLsh` drops the
   * GREATER side of every qualifying pair, so its drop set is a subset of
   * a component's non-minima — under chaining it can KEEP extra docs (pairs
   * (A,B) and (B,D) with D < B drop only B: greedy keeps {A, D}, while the
   * transitive class {A,B,D} keeps just A). This variant closes duplicate
   * classes before choosing survivors — the semantics most curation
   * pipelines mean by "dedup".
   *
   * String ids run the CC loop over the lexicographic order (smallest
   * string survives); integral ids keep numeric-min semantics.
   */
  def minhashLshCC(df: DataFrame, id: String, text: String,
                   shingleSize: Int = 5, numHashes: Int = 16,
                   bands: Int = 4, threshold: Double = 0.5,
                   signature: Option[Column => Column] = None): DataFrame = {
    val pairs = minhashLshPairs(df, id, text, shingleSize, numHashes, bands,
      threshold, signature)
    val integral = df.schema(id).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    val comp = ccImpl(pairs, "idA", "idB", maxIter = 30,
      localFinishEdges = 1L << 20, stringIds = !integral)
    val drops = comp.where(col("id") =!= col("component")).select(col("id").as(id))
    df.join(drops, Seq(id), "left_anti")
  }

  /**
   * CCNet-style duplicated-segment removal (Wenzek et al., CCNet; also the
   * C4 boilerplate rule): drop every line/segment whose content appears in
   * >= minDocFreq distinct documents, rebuild each document from its
   * surviving segments in order. Returns (id, text) with the cleaned text.
   *
   * Scale shape: ONE pass over the exploded segments. Doc frequency rides
   * as a window aggregate over the co-partitioned 192-bit segment hash (a
   * first-occurrence flag summed per segment — O(1) window state, unlike a
   * collect_set of doc ids which would buffer every doc carrying a hot
   * boilerplate line), so no frequency branch exists to re-explode the
   * corpus: a separate groupBy+anti-join formulation was pruned into two
   * different subtrees by Catalyst and scanned + split the corpus twice.
   * No exchange keys on segment text; the rebuild is one groupBy(id) with
   * an order-restoring sort inside the aggregated array.
   */
  def dedupLines(df: DataFrame, id: String, text: String, minDocFreq: Long,
                 delim: String = "\n"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = df.select(col(id).as("_id"),
        posexplode(split(col(text), java.util.regex.Pattern.quote(delim), -1))
          .as(Seq("_pos", "_line")))
      .withColumn("_h1", xxhash64(col("_line")))
      .withColumn("_h2", unhex(md5(col("_line"))))
      .repartition(col("_h1"))
    // hash(_h1) clusters (_h1,_h2[,_id]) too, so neither window re-shuffles
    val wDoc = Window.partitionBy(col("_h1"), col("_h2"), col("_id")).orderBy(col("_pos"))
    val wSeg = Window.partitionBy(col("_h1"), col("_h2"))
    val rebuilt = lines
      .withColumn("_first", when(row_number().over(wDoc) === 1, 1L).otherwise(0L))
      .withColumn("_df", sum(col("_first")).over(wSeg))
      .where(col("_df") < minDocFreq)
      .groupBy(col("_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("_pos"), col("_line")))),
        s => s.getField("_line")), delim).as("_clean"))
    df.select(col(id).as("_oid")).join(rebuilt, col("_oid") === col("_id"), "left")
      .select(col("_oid").as(id), coalesce(col("_clean"), lit("")).as(text))
  }

  /**
   * Benchmark decontamination (the n-gram overlap rule used by GPT-3/PaLM
   * era training-data pipelines): drop every corpus document sharing at
   * least one n-gram shingle with the benchmark set. The benchmark side is
   * broadcast — test sets are small by construction; the corpus is touched
   * by one scan + one semi-join + one anti-join, no corpus self-join.
   *
   * The rule applies per ROW, not per `id`: a contaminated row with a
   * null id is dropped, and a clean row sharing its id with a contaminated
   * one is kept. `id` names the document id but takes no part in the match.
   */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, id: String,
                    text: String, n: Int = 8): DataFrame = {
    val bSh = benchmark
      .select(explode(array_distinct(gf.wordShingles(col(text), n))).as("_sh"))
      .distinct()
    dropContaminatedRows(corpus, text, n)(_.join(broadcast(bSh), Seq("_sh"), "left_semi"))
  }

  /** Drop every corpus row for which `hits` keeps one of its (_row, _sh)
    * shingle rows. Each row gets a surrogate key, and every row is stored
    * with its surrogate before either branch is planned: the shingle
    * branch and the anti-join side then read the same stored rows, so the
    * input plan runs once and the position-dependent
    * `monotonically_increasing_id` is computed once per row. Matching on
    * the surrogate, a null or shared document id cannot make a contaminated
    * row survive or a clean row drop. */
  private def dropContaminatedRows(corpus: DataFrame, text: String, n: Int)
                                  (hits: DataFrame => DataFrame): DataFrame = {
    val rows = Stored.now(corpus.withColumn("_row", monotonically_increasing_id()))
    val cSh = rows.select(col("_row"),
      explode(array_distinct(gf.wordShingles(col(text), n))).as("_sh"))
    val contaminated = hits(cSh).select(col("_row")).distinct()
    rows.join(contaminated, Seq("_row"), "left_anti").drop("_row")
  }

  /**
   * SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication
   * via embedding clusters — assign each vector to its nearest centroid,
   * compare cosines only WITHIN a cluster, and drop every id that has a
   * smaller-id neighbor at cosine >= threshold. The clustering is what makes
   * 100 TB feasible: the quadratic candidate stage runs per cluster bucket
   * (k buckets of ~n/k vectors each), never across the corpus. Reuses
   * embeddingCosinePairs' bucketed-quadratic shape with the centroid
   * assignment (NearestCentroidExpr — one plan node regardless of k x dim)
   * as the bucket; centroids typically come from `DocSet.kmeans` on a
   * sample.
   *
   * Greedy min-id survivor semantics (a dropped doc's own matches are not
   * revived) — the same contract as minhashLsh; use connectedComponents on
   * the pairs when transitive-closure classes are needed.
   *
   * `maxBucketSize` inherits [[embeddingCosinePairs]]' oversize-bucket
   * guard, but here it defaults to 0 = OFF (r20): sub-splitting a hot
   * cluster drops exactly the pairs a DEDUP op exists to find — the
   * densest near-duplicate clusters would silently under-deduplicate by
   * ~1/ceil(B/cap). A corpus that genuinely cannot afford B² on its
   * hottest cluster opts in explicitly (and gets the WARN-logged
   * hot-bucket count from the pairs op).
   */
  def semDedup(df: DataFrame, id: String, vec: String,
               centroids: Array[Array[Double]], threshold: Double,
               maxBucketSize: Int = 0): DataFrame = {
    val bucket = graft.ann.Ann.nearestCentroid(col(vec), centroids)
    val pairs = embeddingCosinePairs(df, id, vec, bucket, threshold, maxBucketSize)
    // no distinct(): left_anti tolerates duplicate keys (same reasoning as
    // minhashLsh's crossDrops)
    val drops = pairs.select(col("idB").as(id))
    df.join(drops, Seq(id), "left_anti")
  }

  /**
   * Decontamination for benchmark sets TOO BIG to broadcast as rows: the
   * benchmark shingle set compresses into a bloom filter (~1.8 bytes/item
   * at 0.1% fpp — a 100M-shingle benchmark suite is ~180 MB of bits vs many
   * GB of strings), the corpus prefilters its shingles through the bits,
   * and only the surviving sliver is exactly verified by a semi-join
   * against the true benchmark set. Bloom false positives are discarded by
   * the verify pass, so the output is IDENTICAL to `decontaminate` — the
   * filter changes the join volume, never the answer.
   *
   * The verify join is shuffle-based (not broadcast) by construction: at
   * the scale where this variant matters, neither side broadcasts, but the
   * corpus side has already shrunk to near the true contamination rate.
   */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, id: String,
                         text: String, n: Int = 8,
                         fpp: Double = 0.001): DataFrame = {
    // the benchmark shingle set is consumed three times (count, filter
    // build, exact verify) — stored once; benchmark-sized, the small side
    // by construction
    val bSh = Stored.now(benchmark
      .select(explode(array_distinct(gf.wordShingles(col(text), n))).as("_sh"))
      .distinct())
    // distributed build + driver merge of the bits (stat.bloomFilter
    // tree-aggregates partial filters; only bit arrays hit the driver)
    val expected = math.max(1L, bSh.count())
    val bf = bSh.stat.bloomFilter("_sh", expected, fpp)
    val mightContain = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.BloomMightContainExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("_sh")), bf))
    dropContaminatedRows(corpus, text, n)(
      _.where(mightContain).join(bSh, Seq("_sh"), "left_semi"))
  }

  /**
   * Cross-group shingle-overlap matrix — the split-contamination audit: how
   * many distinct n-gram shingles do two groups (sources, train/test
   * splits, snapshots) share? Returns (grpA, grpB, shared) for grpA < grpB,
   * pairs with zero overlap omitted. The aggregate view that complements
   * per-document `decontaminate`: run it BEFORE choosing what to
   * decontaminate against.
   *
   * Scale shape: distinct (group, shingle) pairs -> per-shingle group
   * postings -> capped pair expansion -> count aggregate, keyed on group
   * ids (dozens-to-hundreds of groups, so the output and the final shuffle
   * are tiny regardless of corpus size). `maxShingleGroups` drops shingles
   * present in more than that many groups before the quadratic expansion —
   * such shingles are near-universal boilerplate and their pair
   * contribution is capped noise (documented under-count, same contract as
   * ngramJaccardPairs' hot-shingle cap).
   */
  def crossGroupOverlap(df: DataFrame, group: String, text: String,
                        n: Int = 5, maxShingleGroups: Int = 1000): DataFrame = {
    val gs = rebalance(df.select(col(group).as("_g"), col(text).as("_t")))
      .select(col("_g"), explode(array_distinct(gf.wordShingles(col("_t"), n))).as("_sh"))
      .distinct()
    val posts = gs.groupBy(col("_sh")).agg(collect_list(col("_g")).as("_gs"))
      .where(size(col("_gs")).between(2, maxShingleGroups))
    posts.select(col("_gs"), explode(col("_gs")).as("_a"))
      .select(col("_a"), explode(col("_gs")).as("_b"))
      .where(col("_a") < col("_b"))
      .groupBy(col("_a").as("grpA"), col("_b").as("grpB"))
      .agg(count(lit(1)).as("shared"))
  }

  /**
   * Duplicated-span detection — the exact-substring-dedup signal of Lee et
   * al. 2021 ("Deduplicating Training Data Makes Language Models Better",
   * arXiv:2107.06499): an n-token span occurring in more than one document
   * is memorization fuel even when the documents as wholes are unique. Per
   * document this reports
   *   n_spans    — count of n-token sliding windows (0 when < n tokens),
   *   dup_spans  — windows whose token sequence also occurs in ANOTHER doc,
   *   dup_frac   — dup_spans / n_spans (null when no spans),
   * the per-document filter/repair signal (the paper's surgical span
   * REMOVAL additionally needs overlap-merged position ranges — compose
   * with a window over span positions if required; the detection economics
   * are identical).
   *
   * Scale shape (vs the paper's monolithic suffix array, which needs the
   * whole corpus in one address space): sliding windows are the n-gram
   * analogue — one corpus scan explodes to (doc, span-hash) where the hash
   * is the 192-bit xxhash64+md5 pattern from `exact`, so every exchange
   * carries 32-byte keys, never span text. Distinct-doc counting is
   * two-phase ((doc,key) distinct -> per-key count) — both shuffles are on
   * the hash key with map-side combine. No quadratic pair expansion exists
   * anywhere, so no hot-shingle cap is needed: boilerplate spans cost one
   * counter, not O(occurrences^2) pairs.
   */
  def dupSpans(df: DataFrame, id: String, text: String, n: Int = 10): DataFrame = {
    require(n >= 2, s"span length must be >= 2 tokens, got $n")
    // n_spans = len(toks) - n + 1 is row-local arithmetic: no aggregation
    // over the exploded instances is ever needed for the denominators
    val totals = df.select(col(id).as("_tid"),
        greatest(size(gf.tokens(col(text))) - (n - 1), lit(0)).cast("long").as("n_spans"))
    val eligible = rebalance(df.select(col(id).as("_id"), col(text).as("_t")))
      .where(size(gf.tokens(col("_t"))) >= n)
    // ONE aggregation over the exploded instances: per-(doc, span-key)
    // multiplicity. Everything downstream works on this far smaller frame.
    val perDoc = eligible
      .select(col("_id"), explode(gf.wordShingles(col("_t"), n)).as("_g"))
      .select(col("_id"), xxhash64(col("_g")).as("_h1"), unhex(md5(col("_g"))).as("_h2"))
      .groupBy(col("_id"), col("_h1"), col("_h2")).agg(count(lit(1)).as("_m"))
    // perDoc has one row per (doc, key), so distinct-doc counting is a plain
    // count; keys seen in >1 doc mark their instances as duplicated
    val dupKeys = perDoc
      .groupBy(col("_h1"), col("_h2")).agg(count(lit(1)).as("_docs"))
      .where(col("_docs") > 1)
      .select(col("_h1"), col("_h2"))
    val dups = perDoc.join(dupKeys, Seq("_h1", "_h2"), "left_semi")
      .groupBy(col("_id")).agg(sum(col("_m")).as("dup_spans"))
      .withColumnRenamed("_id", "_did")
    totals
      .join(dups, col("_tid") === col("_did"), "left")
      .select(col("_tid").as(id),
        col("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        when(col("n_spans") > 0,
          graft.functions.gf.roundHalfUp(coalesce(col("dup_spans"), lit(0L)).cast("double") / col("n_spans"), 6))
          .as("dup_frac"))
    // no trailing orderBy: a global range sort of the per-document output
    // is pure wasted shuffle at corpus scale — callers needing order (the
    // gate) sort the narrow result themselves
  }

  /** Random-hyperplane sign bucket for embeddingCosinePairs when no label
    * exists: k deterministic pseudo-random hyperplanes. One expression node
    * regardless of planes x dim (SignBucketExpr carries the plane matrix as
    * a reference object). */
  def signBucket(vec: Column, planes: Int, dim: Int, seed: Int = 42): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      SignBucketExpr(org.apache.spark.sql.graft.ColumnBridge.expression(vec),
        SignBucketExpr.hyperplanes(planes, dim, seed)))
}
