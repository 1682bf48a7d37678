package graft.operators

import graft.Stored
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Set-similarity join with PREFIX FILTERING (Chaudhuri et al. ICDE'06;
 * Bayardo et al. WWW'07 "Scaling Up All Pairs Similarity Search") — the
 * entity-matching workhorse: find (left, right) record pairs whose token
 * sets have Jaccard ≥ τ without comparing every pair. The reference's
 * fuzzy dedup family (minhash/ngram) targets whole documents; this is the
 * record-linkage twin for short strings — names, titles, addresses —
 * where EXACT similarity (not an LSH estimate) is wanted.
 *
 * τ rides as the exact rational num/den and every keep decision is an
 * integer cross-multiplication (`den·|A∩B| ≥ num·|A∪B|`) — no float
 * thresholds, so the DuckDB oracle matches bit for bit.
 *
 * Prefix principle: under ANY total token order, if records share no
 * token in their first `|A| − ⌈τ|A|⌉ + 1` tokens, their Jaccard is < τ
 * (J ≥ τ ⟹ |A∩B| ≥ ⌈τ|A|⌉, and an overlap that large cannot hide
 * entirely in a suffix of size ⌈τ|A|⌉ − 1 on both sides). Ordering
 * rare-tokens-first makes those prefixes touch the SMALLEST inverted
 * lists, which is what bounds candidate generation on skewed vocabularies
 * ("the" never lands in a prefix unless a record is almost all stopwords).
 *
 * 100 TB shape: the token-frequency table is vocab-sized (broadcastable);
 * per-record rare-first ranking is one map-side-combined aggregate; the
 * candidate join touches only prefix tokens (bounded by the rarest lists,
 * never the full cross product); exact verification runs on candidate
 * pairs only, with the two set payloads joined in by record id. Nothing
 * is quadratic in the input — only in genuinely-similar clusters, which
 * is the output size itself.
 */
object FuzzyJoin {

  /** Jaccard-τ join of `left` × `right`, where each side carries an id
    * column and a token-SET column (array<string>, duplicates allowed —
    * deduped here). τ = num/den exactly. Empty-set records cannot reach τ
    * and are dropped. Output: (id_a, id_b, inter, uni, jac) id-ordered. */
  def jaccardJoin(left: DataFrame, right: DataFrame,
                  idCol: String, setCol: String,
                  num: Int, den: Int): DataFrame = {
    require(num > 0 && den > 0 && num <= den, s"need 0 < tau = $num/$den <= 1")
    // The prepped (id, token-set) sides are each consumed THREE times —
    // the frequency scan, the prefix explode, and the verify join — and
    // the caller's set column is typically the expensive end of a
    // tokenize/shingle chain. Persist the slim prepped form (an id plus a
    // short array — orders of magnitude under the raw input) so the prep
    // runs once per side, not three times; this is the materialize step
    // every ppjoin-family implementation carries.
    // array_compact strips null tokens BEFORE anything else: the prefix
    // ranking drops them at its freq equi-join while array_intersect at
    // verify would count them — a pair whose overlap includes null would
    // break the prefix filter's recall guarantee
    val l = Stored.cached(left.select(col(idCol).as("_ida"),
      array_distinct(array_compact(col(setCol))).as("_ta"))
      .where(size(col("_ta")) > 0))
    val r = Stored.cached(right.select(col(idCol).as("_idb"),
      array_distinct(array_compact(col(setCol))).as("_tb"))
      .where(size(col("_tb")) > 0))

    // one global rare-first total order (freq, token) over BOTH sides'
    // per-record sets; ties broken by the token string so it is total
    // vocab-sized (distinct tokens, not records) and consumed by BOTH
    // prefix rankings — stored so the double-explode scan runs once
    val freq = Stored.cached(l.select(explode(col("_ta")).as("t"))
      .unionAll(r.select(explode(col("_tb")).as("t")))
      .groupBy(col("t")).agg(count(lit(1)).as("f")))

    // prefix tokens of one side: rank the record's tokens rare-first,
    // keep the first n - ceil(tau*n) + 1
    def prefixTokens(side: DataFrame, id: String, ts: String, sz: String): DataFrame = {
      val ranked = side.select(col(id), explode(col(ts)).as("t"))
        .join(freq, "t")
        .groupBy(col(id))
        .agg(sort_array(collect_list(struct(col("f"), col("t")))).as("_st"))
      val n = size(col("_st"))
      val keep = n - floor((n * num + (den - 1)) / den).cast("int") + 1
      ranked
        .select(col(id), n.as(sz),
          explode(slice(transform(col("_st"), s => s("t")), lit(1), keep)).as("t"))
    }

    // length filter (Arasu et al. VLDB'06): J >= tau forces
    // tau <= |A|/|B| <= 1/tau — prunes candidate pairs BEFORE the
    // distinct/verify exchanges, which is what bounds the blowup when a
    // hot token lands in many prefixes
    val cands = prefixTokens(l, "_ida", "_ta", "_na")
      .join(prefixTokens(r, "_idb", "_tb", "_nb"), "t")
      .where(col("_na") * num <= col("_nb") * den &&
        col("_nb") * num <= col("_na") * den)
      .select(col("_ida"), col("_idb"))
      .distinct()

    val inter = size(array_intersect(col("_ta"), col("_tb")))
    val uni = size(col("_ta")) + size(col("_tb")) - inter
    // Catalyst can't estimate the prepped caches (the projection behind
    // them defeats size stats => defaultSizeInBytes => sort-merge), so the
    // broadcast decision is made from the REAL cardinality: counting the
    // persisted sides is a driver-side scalar over caches the plan needs
    // anyway. Verify joins against a broadcast set payload are map-side —
    // at scale this is exactly the ppjoin small-side case; oversized sides
    // fall back to the shuffled join unhinted.
    val bcastRows = 4L << 20
    val lv = if (l.count() <= bcastRows) broadcast(l) else l
    val rv = if (r.count() <= bcastRows) broadcast(r) else r
    // output-sized store: without it the final sort's range-sampling
    // pass re-executes the ENTIRE candidate+verify chain a second time
    // (measured 4.2 -> 0.7 s at sf0.1); the verified pair set is the
    // smallest relation in the whole job, so this is the cheapest point
    // to cut the double execution
    val verified = Stored.cached(cands
      .join(lv, "_ida")
      .join(rv, "_idb")
      .select(col("_ida").as("id_a"), col("_idb").as("id_b"),
        inter.cast("long").as("inter"), uni.cast("long").as("uni"))
      .where(col("inter") * den >= col("uni") * num)
      .withColumn("jac", graft.functions.gf.roundHalfUp(col("inter").cast("double") / col("uni"), 6)))
    verified.orderBy(col("id_a"), col("id_b"))
  }
}
