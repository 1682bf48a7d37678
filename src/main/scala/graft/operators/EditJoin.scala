package graft.operators

import graft.Stored
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Edit-distance similarity join (Levenshtein ≤ k) with PassJoin-style
 * segment pruning (Li, Deng, Feng VLDB'11): if dist(a, b) ≤ k, then when
 * `a` is split into k+1 contiguous segments, at least one segment occurs
 * VERBATIM in `b` at a start position shifted by at most k (pigeonhole:
 * k edits cannot touch all k+1 segments, and an untouched segment moves
 * by at most the net insertions/deletions before it). Candidates come
 * from an equi-join on (source-length, segment-index, segment-text) plus
 * the position window — never a cross product — and exact verification
 * runs `levenshtein` on candidate pairs only.
 *
 * The reference's fuzzy-match family is set-based (Jaccard over shingles,
 * FuzzyJoin.scala); this is the character-level twin for short strings —
 * names, titles, codes — where transposition-free edit distance is the
 * natural metric (cf. sycamore's entity standardizers,
 * lib/sycamore/sycamore/transforms/standardizer.py:1).
 *
 * 100 TB shape: left explodes to k+1 segment rows per record, right to
 * O(k²) window substrings per record — both linear in input with small
 * constants; the candidate equi-join shuffles on (length, seg-index,
 * segment) whose selectivity comes from real text diversity; verification
 * is output-bounded. Strings shorter than k+1 chars cannot be segmented
 * and take a length-banded direct join (bounded by the short-string
 * count, which for real corpora is a sliver).
 *
 * Both engines count edits over Unicode code points; the char-level
 * semantics match DuckDB's `levenshtein` (ASCII inputs are bit-identical;
 * astral-plane text differs only if an engine counted UTF-16 units, which
 * neither does).
 */
object EditJoin {

  /** Pairs (id_a, id_b, dist) from `left` × `right` with
    * levenshtein(strCol_a, strCol_b) <= k, id-ordered.
    *
    * `maxSegFreq` is the OPT-IN hot-key guard (the family contract shared
    * with ngramJaccardPairs' maxShingleFreq and embeddingCosinePairs'
    * maxBucketSize, r19): a (length, seg-index, segment) key shared by B
    * records on each side yields B² candidate pairs on ONE reducer — and
    * generic substrings at a fixed position (template prefixes, common
    * name particles) concentrate exactly like hot shingles. Keys whose
    * frequency exceeds the cap on EITHER side are dropped from candidate
    * generation. The default is 0 = DISABLED (r20): with a cap, a group of
    * more than `maxSegFreq` template-identical strings makes every
    * witnessing key hot on both sides and silently drops ALL pairs among
    * them — including dist=0 exact duplicates, the primary dedup case —
    * which breaks the operator's all-pairs contract with no signal. A
    * caller who opts in gets (a) exact-equality pairs re-admitted through
    * a separate equality pre-join (they cost no verification and ARE the
    * output, so the cap only prunes near-miss candidates), and (b) a WARN
    * log with the dropped-hot-key count, so the remaining under-count —
    * a true 1..k pair ALL of whose witnessing segments are hot (the
    * pigeonhole otherwise fires through any selective segment) — is
    * observable instead of silent. */
  def join(left: DataFrame, right: DataFrame,
           idCol: String, strCol: String, k: Int,
           maxSegFreq: Long = 0L): DataFrame = {
    require(k >= 0, s"need k >= 0, got $k")
    val l = Stored.cached(left.select(col(idCol).as("_ida"), col(strCol).as("_sa"),
      length(col(strCol)).as("_la")).where(col("_sa").isNotNull))
    val r = Stored.cached(right.select(col(idCol).as("_idb"), col(strCol).as("_sb"),
      length(col(strCol)).as("_lb")).where(col("_sb").isNotNull))

    // segment i of a length-L string: even split, remainder spread over
    // the FIRST (L % (k+1)) segments — any fixed convention works as long
    // as both sides derive the same bounds from the same L
    def segStart(lc: Column, i: Int): Column =
      lit(i) * floor(lc / (k + 1)).cast("int") + least(lit(i), pmod(lc, lit(k + 1)))
    def segLen(lc: Column, i: Int): Column =
      floor(lc / (k + 1)).cast("int") +
        when(lit(i) < pmod(lc, lit(k + 1)), lit(1)).otherwise(lit(0))

    val seggable = col("_la") >= k + 1
    val segs = l.where(seggable).select(col("_ida"), col("_la"),
      explode(array((0 to k).map { i =>
        struct(lit(i).as("_i"), segStart(col("_la"), i).as("_pa"),
          col("_sa").substr(segStart(col("_la"), i) + 1, segLen(col("_la"), i)).as("_seg"))
      }: _*)).as("_s"))
      .select(col("_ida"), col("_la").as("_l"), col("_s._i").as("_i"),
        col("_s._pa").as("_pa"), col("_s._seg").as("_seg"))

    // right side: for every candidate source length l in [len-k, len+k],
    // every segment index, every start shift in [-k, k], the substring of
    // that segment's length at that position. The (o, i, s) triplets ride
    // in as ONE constant array that is exploded FIRST, and a single
    // column-parameterized substring expression serves every triplet —
    // inlining the (2k+1)²(k+1) window expressions into one explode (the
    // previous shape) generated an ~18k-line doConsume that janino refused
    // to compile, silently dropping the whole stage to interpreted mode.
    def segStartC(lc: Column, i: Column): Column =
      i * floor(lc / (k + 1)).cast("int") + least(i, pmod(lc, lit(k + 1)))
    def segLenC(lc: Column, i: Column): Column =
      floor(lc / (k + 1)).cast("int") +
        when(i < pmod(lc, lit(k + 1)), lit(1)).otherwise(lit(0))
    val triplets = typedLit(for { o <- -k to k; i <- 0 to k; s <- -k to k }
      yield (o, i, s))
    val subs = r.select(col("_idb"), col("_sb"), col("_lb"),
        explode(triplets).as("_t"))
      .select(col("_idb"), col("_sb"), col("_lb"),
        (col("_lb") + col("_t._1")).cast("int").as("_l"), col("_t._2").as("_i"),
        col("_t._3").as("_s"))
      .withColumn("_pb", segStartC(col("_l"), col("_i")) + col("_s"))
      .withColumn("_len", segLenC(col("_l"), col("_i")))
      .where(col("_l") >= k + 1 && col("_pb") >= 0 && col("_len") >= 1 &&
        col("_pb") + col("_len") <= col("_lb"))
      .select(col("_idb"), col("_l"), col("_i"), col("_pb"),
        col("_sb").substr(col("_pb") + 1, col("_len")).as("_seg"))
      .distinct()

    // hot-key guard (opt-in): keys over the cap on either side leave
    // candidate generation entirely (pairs need both sides, so one
    // anti-join on the left segments suffices). The hot set is tiny by
    // construction (<= rows/cap keys per side) — r21: COLLECTED to the
    // driver and re-entered as a literal local relation instead of a
    // persist()ed distributed frame (ADVICE r20: the persist was never
    // unpersisted, so storage lingered until driver GC; the collect is
    // the same bounded rows the count action already shipped, and the
    // broadcast now builds from a local relation with no cache entry at
    // all). The drop count is WARN-logged — the cap's under-count must
    // never be silent.
    val hotKeys: Array[(Int, Int, String)] =
      if (maxSegFreq <= 0) Array.empty
      else segs.groupBy(col("_l"), col("_i"), col("_seg"))
        .agg(count(lit(1)).as("_c")).where(col("_c") > maxSegFreq)
        .select(col("_l"), col("_i"), col("_seg"))
        .unionAll(subs.groupBy(col("_l"), col("_i"), col("_seg"))
          .agg(count(lit(1)).as("_c")).where(col("_c") > maxSegFreq)
          .select(col("_l"), col("_i"), col("_seg")))
        .distinct()
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
    val segsGuarded =
      if (maxSegFreq <= 0) segs
      else if (hotKeys.isEmpty) segs
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"EditJoin: maxSegFreq=$maxSegFreq drops ${hotKeys.length} hot " +
            "segment keys from candidate generation — near-miss pairs " +
            "witnessed ONLY by hot segments are under-counted " +
            "(exact-equality pairs are re-admitted separately)")
        val spark = left.sparkSession
        import spark.implicits._
        val hot = hotKeys.toSeq.toDF("_l", "_i", "_seg")
        segs.join(broadcast(hot), Seq("_l", "_i", "_seg"), "left_anti")
      }
    val segCands = segsGuarded.join(subs, Seq("_l", "_i", "_seg"))
      .where(abs(col("_pa") - col("_pb")) <= k)
      .select(col("_ida"), col("_idb"))

    // cap exemption for the primary dedup case: dist=0 pairs among a hot
    // template group are exactly the pairs the cap would otherwise drop
    // wholesale. An equality join re-admits them at zero verification
    // cost (their levenshtein is 0 by construction); its output size is
    // the TRUE pair count, so it adds no work the contract doesn't owe.
    // r21 (ADVICE): the raw equality join funneled a hot template group of
    // B identical strings onto ONE reducer emitting B² pairs — the exact
    // single-reducer skew the cap exists to bound. Over-cap strings now
    // take a SALTED join (left scattered by a deterministic hash of its
    // id, right replicated SaltWays ways), spreading each hot string's B²
    // output across SaltWays reducers; under-cap strings join unsalted.
    // The hot-string set is bounded by rows/cap per side, collected once
    // and re-entered as a broadcast literal.
    val SaltWays = 32
    val exactCands =
      if (maxSegFreq <= 0) None
      else {
        val hotStrs = l.groupBy(col("_sa").as("_hs")).agg(count(lit(1)).as("_c"))
          .where(col("_c") > maxSegFreq).select(col("_hs"))
          .unionAll(r.groupBy(col("_sb").as("_hs")).agg(count(lit(1)).as("_c"))
            .where(col("_c") > maxSegFreq).select(col("_hs")))
          .distinct()
        val spark = left.sparkSession
        import spark.implicits._
        val hotLit = hotStrs.as[String].collect().toSeq.toDF("_hs")
        val cold = l.select(col("_ida"), col("_sa"))
          .join(broadcast(hotLit), col("_sa") === col("_hs"), "left_anti")
          .join(r.select(col("_idb"), col("_sb")), col("_sa") === col("_sb"))
          .select(col("_ida"), col("_idb"))
        val lHot = l.select(col("_ida"), col("_sa"))
          .join(broadcast(hotLit), col("_sa") === col("_hs"), "left_semi")
          .withColumn("_salt", pmod(xxhash64(col("_ida")), lit(SaltWays.toLong)))
        val rHot = r.select(col("_idb"), col("_sb"))
          .join(broadcast(hotLit), col("_sb") === col("_hs"), "left_semi")
          .withColumn("_salt",
            explode(typedLit((0 until SaltWays).map(_.toLong))))
        val hot = lHot.join(rHot,
            lHot("_sa") === rHot("_sb") && lHot("_salt") === rHot("_salt"))
          .select(col("_ida"), col("_idb"))
        Some(cold.unionAll(hot))
      }

    // short strings (< k+1 chars) cannot be segmented: length-banded
    // direct candidates — bounded by the short-string count
    val shortCands = l.where(!seggable).select(col("_ida"), col("_la"))
      .join(r.select(col("_idb"), col("_lb")),
        col("_lb") >= col("_la") - k && col("_lb") <= col("_la") + k)
      .select(col("_ida"), col("_idb"))

    val cands = exactCands.foldLeft(segCands.unionAll(shortCands))(_ unionAll _).distinct()

    val bcastRows = 4L << 20
    val lv = if (l.count() <= bcastRows) broadcast(l) else l
    val rv = if (r.count() <= bcastRows) broadcast(r) else r
    // output-sized store so the final sort's range-sampling pass does
    // not re-execute the candidate+verify chain (FuzzyJoin pattern)
    val verified = Stored.cached(cands
      .join(lv, "_ida").join(rv, "_idb")
      .select(col("_ida").as("id_a"), col("_idb").as("id_b"),
        levenshtein(col("_sa"), col("_sb")).cast("long").as("dist"))
      .where(col("dist") <= k))
    verified.orderBy(col("id_a"), col("id_b"))
  }
}
