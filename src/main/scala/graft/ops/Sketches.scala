package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

/** Approximate/sketch operators — the sub-linear-memory summaries a
  * 100 TB pipeline uses where exact answers would shuffle the world:
  *
  *  - HLL distinct counts: one pass, fixed memory per group, mergeable
  *    partials (vs an exact countDistinct whose state is the value set).
  *  - approximate quantiles: bounded-error rank sketch, partial-mergeable.
  *  - Bloom filter: membership summary built distributed (treeAggregate
  *    under the hood) — ship a few MB to pre-filter a 100 TB probe side
  *    before a join (no false negatives, bounded false positives).
  *  - Count-min sketch: per-key frequency estimates (never undercounts) —
  *    the heavy-hitter / hot-key detector that decides when [[Skew]]
  *    salting is worth applying.
  *
  * HLL/quantile/bloom/count-min sketch layouts are implementation-
  * specific, so those are NOT in the oracle registry — SketchesSpec pins
  * their accuracy contracts against exact answers instead. Two sketch
  * applications ARE oracle-gated because their RESULTS are engine-
  * neutral: [[kmvDistinct]] (defined purely by shared md5 arithmetic,
  * `sketch_kmv_distinct`) and [[bloomPrunedJoin]] (false positives are
  * removed by the exact join, so the result equals the plain join,
  * `q_bloom_join`).
  */
object Sketches {

  /** Approximate distinct count per group (HyperLogLog++). */
  def approxDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
      rsd: Double = 0.05): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(approx_count_distinct(col(valueCol), rsd).as("approx_distinct"))

  /** Approximate quantiles of a numeric column (Greenwald-Khanna
    * variant); `relativeError` bounds the rank error. */
  def approxQuantiles(df: DataFrame, valueCol: String,
      probabilities: Array[Double], relativeError: Double = 0.01): Array[Double] =
    df.stat.approxQuantile(valueCol, probabilities, relativeError)

  /** Distributed Bloom filter over a column: no false negatives, ~`fpp`
    * false positives at `expectedItems`. */
  def bloomFilter(df: DataFrame, colName: String,
      expectedItems: Long, fpp: Double = 0.03): BloomFilter =
    df.stat.bloomFilter(colName, expectedItems, fpp)

  /** Bloom-pre-filtered join: build the filter on the (small) build side
    * key set, drop probe rows that cannot match BEFORE the shuffle, then
    * do the exact join. Result equals the plain inner join (the filter
    * admits false positives, never false negatives — the join removes
    * them); what changes is shuffle volume on the probe side.
    *
    * The probe predicate is a native codegen'd expression
    * ([[graft.functions.BloomMightContainLong]]) over the broadcast
    * filter — not a UDF — so the 100 TB probe scan keeps its
    * whole-stage-codegen span and pays no per-row boxing. */
  def bloomPrunedJoin(probe: DataFrame, build: DataFrame, key: String,
      expectedItems: Long, fpp: Double = 0.03): DataFrame = {
    val bf = bloomFilter(build, key, expectedItems, fpp)
    val bcast = probe.sparkSession.sparkContext.broadcast(bf)
    probe.filter(graft.functions.bloom_might_contain_long(col(key), bcast))
      .join(build, key)
  }

  /** ERASURE-shaped anti join with a bloom pre-filter — the
    * right-to-be-forgotten deletion pass: rows whose key the bloom rules
    * OUT are kept WITHOUT touching the join at all (under a small
    * deletion set that is almost every row — no shuffle, no join probe,
    * one codegen'd filter fused with the scan); only the might-contain
    * sliver pays the exact anti-join that removes true matches and
    * returns the false positives. Bloom false positives therefore cost
    * a join probe, never a lost row — the exactness contract a deletion
    * pass must keep.
    *
    * NULL-key probe rows are kept explicitly: might-contain is
    * null-propagating, so both `!might` and `might` would silently drop
    * them, while the plain left_anti this equals keeps them (NULL never
    * equi-matches a deletion key). A deletion pass must not erase rows
    * nobody asked to erase. */
  def bloomPrunedAntiJoin(probe: DataFrame, build: DataFrame, key: String,
      expectedItems: Long, fpp: Double = 0.03): DataFrame = {
    val bf = bloomFilter(build, key, expectedItems, fpp)
    val bcast = probe.sparkSession.sparkContext.broadcast(bf)
    val might = graft.functions.bloom_might_contain_long(col(key), bcast)
    probe.filter(col(key).isNull || !might)
      .unionByName(probe.filter(might)
        .join(build.select(col(key)).distinct(), Seq(key), "left_anti"))
  }

  /** KMV (bottom-k / k-minimum-values) distinct-count estimate.
    *
    * Unlike HLL (whose sketch bytes are implementation-specific), KMV is
    * defined purely by a shared hash: keep the k smallest distinct
    * 60-bit md5-prefix hashes of the values; if the kth smallest maps to
    * fraction f of the hash space, distinct ≈ (k-1)/f. Every engine with
    * md5 recomputes it bit-identically — so this sketch sits in the
    * DuckDB oracle gate, pinning the whole estimator (hash, bottom-k
    * selection, estimate arithmetic) cross-engine.
    *
    * Scale shape: map-side distinct partials shrink each partition to
    * <= k hashes before the single tiny shuffle (Catalyst plans the
    * global sort+limit as partition-local TakeOrdered partials); the
    * full value set never concentrates anywhere.
    *
    * Output (1 row): n_kept, kth (largest kept hash), est_distinct.
    * 2^60 fits a signed long; 255 * 2^60 is exactly representable in a
    * double, so the estimate arithmetic is deterministic IEEE. */
  def kmvDistinct(df: DataFrame, colName: String, k: Int = 256): DataFrame = {
    require(k >= 2)
    val h = conv(substring(md5(col(colName).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val scale = (k - 1).toDouble * math.pow(2, 60) // exact for k-1 < 2^11
    df.select(h.as("h")).where(col("h").isNotNull).distinct()
      .orderBy(col("h").asc).limit(k)
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("kth"))
      .select(col("n_kept"), col("kth"),
        round(when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit(scale) / col("kth").cast("double")), 2)
          .as("est_distinct"))
  }

  /** KMV union: the distinct-count estimate of A ∪ B from two
    * INDEPENDENTLY built bottom-k sketches — union the two kept-hash
    * sets, re-take the bottom k, same estimator. This is the property
    * that makes sketches the 100 TB tool: per-shard/per-day sketches of
    * ≤ k hashes merge associatively without revisiting the data, so a
    * year's distinct-users query touches 365 sketch rows, not the
    * corpus. Same md5 arithmetic as [[kmvDistinct]], so the whole merge
    * is oracle-recomputable. */
  def kmvUnionEstimate(a: DataFrame, aCol: String, b: DataFrame, bCol: String,
      k: Int = 256): DataFrame = {
    require(k >= 2)
    def bottomK(df: DataFrame, c: String) = {
      val h = conv(substring(md5(col(c).cast("string")), 1, 15), 16, 10).cast("long")
      df.select(h.as("h")).where(col("h").isNotNull).distinct()
        .orderBy(col("h").asc).limit(k)
    }
    val scale = (k - 1).toDouble * math.pow(2, 60)
    bottomK(a, aCol).union(bottomK(b, bCol)).distinct()
      .orderBy(col("h").asc).limit(k)
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("kth"))
      .select(col("n_kept"), col("kth"),
        round(when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit(scale) / col("kth").cast("double")), 2)
          .as("est_distinct"))
  }

  /** KMV set ALGEBRA: Jaccard and intersection estimates of A and B from
    * their two independent bottom-k sketches (Beyer et al. 2007,
    * "On synopses for distinct-value estimation under multiset
    * operations") — the merged bottom-k is a uniform sample of A ∪ B, so
    * the fraction of its hashes present in BOTH sketches estimates
    * J(A,B), and intersection ≈ J × union-estimate. This is the full
    * sketch story at 100 TB: per-shard sketches of ≤ k hashes answer
    * union AND overlap questions (shared users across days, corpus
    * overlap between crawls) without revisiting data. All integer hash
    * compares plus two boundary doubles — oracle-recomputable. */
  def kmvIntersectEstimate(a: DataFrame, aCol: String, b: DataFrame, bCol: String,
      k: Int = 256): DataFrame = {
    require(k >= 2)
    def bottomK(df: DataFrame, c: String) = {
      val h = conv(substring(md5(col(c).cast("string")), 1, 15), 16, 10).cast("long")
      df.select(h.as("h")).where(col("h").isNotNull).distinct()
        .orderBy(col("h").asc).limit(k)
    }
    val scale = (k - 1).toDouble * math.pow(2, 60)
    val ba = bottomK(a, aCol)
    val bb = bottomK(b, bCol)
    val merged = ba.union(bb).distinct().orderBy(col("h").asc).limit(k)
    val both = merged
      .join(ba.withColumn("__ina", lit(1)), Seq("h"), "left")
      .join(bb.withColumn("__inb", lit(1)), Seq("h"), "left")
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("kth"),
        sum(when(col("__ina").isNotNull && col("__inb").isNotNull, 1L)
          .otherwise(0L)).as("n_both"))
    // jaccard in integer basis points ((n_both * 10000) div n_kept):
    // a dyadic-ratio double rounded at 4 decimals can land exactly on a
    // rounding half-boundary — integer floor division sidesteps the
    // cross-engine tie question entirely
    both.select(col("n_kept"), col("kth"), col("n_both"),
      round(when(col("n_kept") < k, col("n_kept").cast("double"))
        .otherwise(lit(scale) / col("kth").cast("double")), 2).as("est_union"),
      expr("(n_both * 10000) div n_kept").as("jaccard_bp"),
      round((col("n_both").cast("double") / col("n_kept").cast("double")) *
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit(scale) / col("kth").cast("double")), 2)
        .as("est_intersect_r"))
  }

  /** Count-min sketch over a column (frequency estimates; never
    * undercounts). */
  def countMinSketch(df: DataFrame, colName: String,
      eps: Double = 0.001, confidence: Double = 0.99, seed: Int = 42): CountMinSketch =
    df.stat.countMinSketch(colName, eps, confidence, seed)

  /** Heavy hitters via count-min over a CALLER-SUPPLIED candidate list.
    *
    * @deprecated the distributed-discovery overload (below) nominates its
    * own candidates from a sampled count and needs no prior knowledge of
    * the key space — a caller-supplied list silently misses any hitter
    * the caller didn't anticipate. This overload remains only for probes
    * of specific known keys. [[Skew.adaptiveCountSum]] wires the
    * discovery overload to salting end-to-end. */
  @deprecated("use the distributed-discovery overload; a fixed candidate " +
    "list misses unanticipated hitters", "round-4")
  def heavyHitters(df: DataFrame, colName: String, candidates: Seq[Any],
      minShare: Double, eps: Double = 0.001): Seq[(Any, Long)] = {
    val total = df.count()
    val cms = countMinSketch(df, colName, eps = eps)
    candidates.map(k => k -> cms.estimateCount(k))
      .filter { case (_, est) => est >= (minShare * total).toLong }
  }

  /** Heavy hitters with DISTRIBUTED candidate discovery — no
    * caller-supplied list. Candidates come from a row-sample count whose
    * top `maxCandidates` are taken via `orderBy(...).limit(n)`, which
    * Catalyst plans as TakeOrdered: a per-partition bounded heap + a
    * driver merge of `maxCandidates` rows, never a global sort. Each
    * candidate is then verified against the count-min estimate over the
    * FULL data (sampling only nominates; the sketch decides).
    *
    * A key with share >= minShare appears ~minShare*sampleFraction*N
    * times in the sample, so pick `sampleFraction` >> 1/(minShare*N) to
    * make a miss negligible; at 100 TB even 1e-4 sampling leaves any
    * 0.1%-share key with thousands of sampled rows. */
  def heavyHitters(df: DataFrame, colName: String, minShare: Double,
      eps: Double, sampleFraction: Double, maxCandidates: Int): Seq[(Any, Long)] = {
    val total = df.count()
    val cms = countMinSketch(df, colName, eps = eps)
    // secondary sort on the key: count ties at the cutoff would otherwise
    // make the TakeOrdered boundary — and so the returned hitter list —
    // nondeterministic across runs/partitionings. Null keys are excluded
    // at nomination: count-min cannot represent null (probing it throws),
    // so a null-heavy column would otherwise burn a candidate slot on a
    // key that can never verify — callers route nulls through their
    // unsalted path ([[Skew.adaptiveCountSum]]).
    val candidates = df.sample(withReplacement = false, sampleFraction, seed = 42L)
      .filter(col(colName).isNotNull)
      .groupBy(col(colName).as("__hh_key")).agg(count(lit(1)).as("__hh_n"))
      .orderBy(col("__hh_n").desc, col("__hh_key").asc)
      .limit(maxCandidates)
      .select(col("__hh_key")).collect().map(_.get(0)).toSeq
    candidates.map(k => k -> cms.estimateCount(k))
      .filter { case (_, est) => est >= (minShare * total).toLong }
  }
}
