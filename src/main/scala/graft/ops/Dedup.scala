package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines, exact through
  * approximate, each designed shuffle-minimal:
  *
  *  - exact: hash-groupBy on a content fingerprint — ONE shuffle on the
  *    md5 key; at 100 TB the 32-byte key (not the document) is what moves.
  *  - MinHash + LSH: shingle → k minhashes → band → bucket-join. The
  *    self-join happens only WITHIN band buckets, so candidate generation
  *    is |bucket|² per bucket, never |corpus|².
  *  - SimHash: 64-bit signed-projection signature; near-dups share most
  *    bits, candidates via band-of-bits buckets.
  *  - n-gram Jaccard: inverted-index join on shingles (explode + groupBy),
  *    exact similarity on the candidate pairs only.
  *
  * MinHash here uses md5-derived hashes so the DuckDB oracle can recompute
  * signatures byte-identically; SimHash uses xxhash64 (Spark-native,
  * faster, oracle gets a rows-level check only).
  */
object Dedup {

  /** Exact dedup: keep the lowest `idCol` per fingerprint of `textCol`.
    * One wide shuffle on the fingerprint; partial min is map-side. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(TextOps.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental corpus dedup — the daily-ingest shape: dedup the new
    * batch internally (min id per fingerprint), then anti-join against
    * the existing corpus's fingerprints. Only 16-byte fingerprints ever
    * shuffle; in production the corpus fingerprint set is a stored
    * artifact (and a bloom pre-filter — [[Sketches.bloomPrunedJoin]]'s
    * shape — drops most batch rows before the anti-join shuffle). */
  def incrementalNew(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val bfp = batch.select(TextOps.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp")).agg(min(col(idCol)).as("keep_id"))
    val cfp = corpus.select(TextOps.fingerprint(col(textCol)).as("fp")).distinct()
    bfp.join(cfp, Seq("fp"), "left_anti")
      .select(col("keep_id").as(idCol))
  }

  /** Keyed keep-latest dedup: one row per key, the row with the greatest
    * (orderCol, tieBreak) — the ETL "latest record wins" primitive. One
    * shuffle on the key; the window is partition-local after it. */
  def keepLatest(df: DataFrame, keyCols: Seq[String], orderCol: String,
      tieBreak: String): DataFrame = {
    // pick a rank-column name that cannot clobber caller data
    val rn = Iterator.from(0).map(i => s"__rn$i")
      .find(n => !df.columns.contains(n)).get
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).desc, col(tieBreak).desc)
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1)
      .drop(rn)
  }

  /** Universal-hash constants for the k minhash variants: one md5-derived
    * base hash per shingle, then variant i = base * A(i) + B(i) in
    * wrapping 64-bit arithmetic (Java long overflow IS mod 2^64).
    * Multipliers are odd 32-bit so an engine-neutral oracle can reproduce
    * the wrap in 128-bit intermediate arithmetic without overflowing
    * (A*u < 2^96). Exposed for the oracle-SQL generator. */
  def minhashA(i: Int): Long = ((0x9E3779B9L * (i + 1)) & 0xFFFFFFFFL) | 1L
  def minhashB(i: Int): Long = 0xBF58476D1CE4E5B9L * (i + 1) // wraps

  /** MinHash signatures as a flat aggregation: explode shingles, hash
    * each ONCE with the native [[graft.functions.Md5Hash64]], then one
    * hash-aggregate computing all k `min(h * A_i + B_i)` columns — long
    * arithmetic replaces the previous k separate `md5(shingle || '#i')`
    * string digests per row (k-fold md5 reduction, and the agg combines
    * 8-byte longs instead of 32-char hex strings). The explode +
    * hash-agg path stays inside whole-stage codegen, unlike an
    * `array_min(transform(...))` higher-order expression, which Spark
    * evaluates interpreted — measured ~50x slower at sf0.1. Docs with no
    * shingles (shorter than the shingle width) drop out, matching the
    * NULL-band behavior of the SQL oracle. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int): DataFrame = {
    val shingled = TextOps.wordShingleRows(df, idCol, textCol, shingleN)
    val hashed = shingled.select(col("id"),
      graft.functions.md5_hash64(col("sh")).as("h"))
    val aggs = (0 until k).map(i =>
      min(graft.functions.mix64(col("h"), minhashA(i), minhashB(i))).as(s"h$i"))
    hashed.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band rows (id, band_id, band_key) — the PERSISTED-INDEX shape:
    * in a continuous-crawl pipeline this is computed once per ingest and
    * appended to the index table, so later batches probe it without ever
    * re-shingling the corpus. */
  def minhashBandIndex(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, shingleN, k)
    val nBands = k / rowsPerBand
    val bandStructs = array((0 until nBands).map { b =>
      struct(lit(b).as("band_id"),
        concat_ws("|", (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*)
          .as("band_key"))
    }: _*)
    sig.select(col("id"), explode(bandStructs).as("band"))
      .select(col("id"), col("band.band_id"), col("band.band_key"))
  }

  /** MinHash-LSH near-dup candidate pairs (a < b) over word shingles.
    * Banded self-join: candidates share all `rowsPerBand` signature rows
    * of some band, so the join key is (band_id, concatenated band hash) —
    * bucket-local O(|bucket|²), never corpus-global. The two join sides
    * are the same plan, so Catalyst reuses one shuffle (ReusedExchange). */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val banded = minhashBandIndex(df, idCol, textCol, shingleN, k, rowsPerBand)
    banded.as("a").join(banded.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Incremental NEAR-dup detection: which new-batch documents LSH-
    * collide with the existing corpus? The corpus side is its persisted
    * band index ([[minhashBandIndex]] — in production appended per
    * ingest, read back here), so the corpus text is never re-shingled
    * and never re-pairs with itself; only the (small) new batch computes
    * signatures, and the join meets solely inside matching buckets —
    * the incremental twin of [[minhashLshPairs]], as [[incrementalNew]]
    * is for exact fingerprints. Returns one row per colliding batch doc
    * with its smallest colliding corpus id for audit.
    *
    * `forceShuffleJoin = true` pins the probe to a shuffle join (MERGE
    * hint on the batch side): the production posture when `corpusIndex`
    * is a [[writeBandIndex]]-bucketed table, whose files already satisfy
    * the join's (band_id, band_key) distribution — the billion-row index
    * then never moves, only the batch shuffles into its buckets. Left at
    * the default, Catalyst may instead broadcast a small batch over the
    * streamed index — the right plan when the batch fits in memory;
    * bucketing makes the choice free either way. */
  def incrementalLshDups(batch: DataFrame, corpusIndex: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8, rowsPerBand: Int = 2,
      forceShuffleJoin: Boolean = false): DataFrame = {
    val nb0 = minhashBandIndex(batch, idCol, textCol, shingleN, k, rowsPerBand)
    val nb = if (forceShuffleJoin) nb0.hint("MERGE") else nb0
    nb.as("n").join(corpusIndex.as("c"),
        col("n.band_id") === col("c.band_id") &&
        col("n.band_key") === col("c.band_key"))
      .groupBy(col("n.id").as("doc_id"))
      .agg(min(col("c.id")).as("dup_of"))
  }

  /** Persist [[minhashBandIndex]] bucketed + sorted by its probe key
    * (band_id, band_key) — the continuous-crawl index layout: the
    * bucketed files' HashPartitioning IS the probe join's required
    * distribution, so [[incrementalLshDups]] against the read-back table
    * runs with ZERO exchanges on the index side (PlanAuditSpec pin);
    * each ingest re-shingles only its batch and the ever-growing corpus
    * index never crosses the network again. */
  def writeBandIndex(df: DataFrame, idCol: String, textCol: String,
      table: String, buckets: Int, path: Option[String] = None,
      shingleN: Int = 3, k: Int = 8, rowsPerBand: Int = 2): Unit =
    graft.sources.TableIO.replaceBucketed(
      minhashBandIndex(df, idCol, textCol, shingleN, k, rowsPerBand),
      table, Seq("band_id", "band_key"), buckets, path)

  /** SimHash 64-bit signatures: sign of the per-bit sum of ±1 votes from
    * each word's 64-bit hash. Computed as explode(words) → one
    * hash-aggregate with 64 conditional sums (codegen'd); the nested
    * higher-order-function formulation evaluates interpreted and was
    * ~30x slower at sf0.1.
    *
    * The word hash is the md5 64-bit prefix (via the native codegen'd
    * [[graft.functions.Md5Hash64]]) rather than xxhash64, so the DuckDB
    * oracle recomputes signatures byte-identically: both engines share
    * md5, neither shares the other's native hash. Bit b of the long is
    * bit b of the unsigned first-16-hex-chars value — exactly the two
    * 32-bit halves the oracle SQL assembles. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = df
      .select(col(idCol).as("id"), explode(TextOps.words(col(textCol))).as("w"))
      .select(col("id"), graft.functions.md5_hash64(col("w")).as("h"))
    // Lane-packed popcounts: bit b's set-count per doc, 4 bits per sum
    // column in 16-bit lanes — 16 aggregate buffer columns instead of 64
    // (aggregation buffer update cost dominates this hash-agg). Bit b is
    // "positive vote" iff 2*count_b > n_words, which equals the ±1-vote
    // sum sign. 16-bit lanes bound the per-doc token count at 65535 —
    // far above any sane simhash input (near-dup docs beyond that get
    // chunked upstream); the guard below drops the overflow rows rather
    // than silently corrupting neighbor lanes.
    val lanes = (0 until 16).map { g =>
      sum((0 until 4).map { j =>
        shiftleft(shiftright(col("h"), 4 * g + j).bitwiseAND(lit(1L)), 16 * j)
      }.reduce(_ + _)).as(s"g$g")
    }
    val counted = exploded
      .groupBy(col("id"))
      .agg(lanes.head, (lanes.tail :+ count(lit(1)).as("nw")): _*)
      .filter(col("nw") <= 65535)
    val sig = (0 until 64).map { b =>
      val cnt = shiftright(col(s"g${b / 4}"), 16 * (b % 4)).bitwiseAND(lit(0xFFFFL))
      when(cnt * 2 > col("nw"), lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    counted.select(col("id"), sig.as("sig"))
  }

  /** SimHash near-dup candidates: split the 64-bit signature into 4
    * 16-bit bands; docs sharing any band are candidates; verify by
    * Hamming distance <= maxHamming. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 8): DataFrame = {
    val sigs = simhashSignatures(df, idCol, textCol)
    val banded = sigs.select(col("id"), col("sig"), explode(array((0 until 4).map { b =>
      struct(lit(b).as("band_id"),
        shiftright(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL)).as("band_key"))
    }: _*)).as("band"))
      .select(col("id"), col("sig"), col("band.band_id"), col("band.band_key"))
    val hamming = bit_count(col("a.sig").bitwiseXOR(col("b.sig")))
    banded.as("a").join(banded.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.id") < col("b.id"))
      .filter(hamming <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming.cast(IntegerType).as("hamming"))
      .distinct()
  }

  /** Duplicate-cluster resolution: connected components over a pair list
    * (e.g. [[minhashLshPairs]] output), labeling every member with the
    * smallest id in its component — the step that turns pairwise near-dup
    * hits into "keep one per cluster" decisions.
    *
    * Iterative min-label propagation: each round every vertex takes the
    * minimum label among itself and its neighbors; converges in
    * O(component diameter) rounds (near-dup clusters are shallow). Each
    * round is one |E| shuffle — the textbook large-graph formulation
    * (no driver-side graph). A per-round reliable checkpoint
    * ([[Materialize.carried]]) truncates the growing lineage so round
    * N's plan doesn't replay rounds 1..N-1, and survives executor loss.
    *
    * Returns (id, cluster_id) for every vertex that appears in >= 1 edge.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    val e = edges.select(col(aCol).as("src"), col(bCol).as("dst")).distinct()
    // Undirected: propagate both ways, plus a self-loop per vertex so a
    // vertex is its own neighbor — that folds the per-round
    // `union(labels)` branch into the STATIC edge list. Pre-partition it
    // on the per-round join key ONCE and cache it partitioned — every
    // round's sym⋈labels then finds its required distribution already
    // satisfied and runs exchange-free on the sym side, instead of
    // re-shuffling |E| rows per round.
    val bidir = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val sym = bidir
      .union(bidir.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst")))
      .repartition(col("src"))
      .persist()
    // Round-0 labels: lazy persist, not an eager checkpoint — it is
    // consumed exactly once (inside round 1's job), so a separate
    // materialization job would be pure overhead.
    val labels0 = sym.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .persist()
    var labels = labels0
    // Convergence via the label-sum invariant: min-propagation only ever
    // DECREASES labels, so an unchanged Σlbl means no label moved. The
    // sum rides the SAME job that materializes the round's labels
    // (`observe` + eager reliable checkpoint) — one action per round, no
    // separate scalar job. SHUFFLE_HASH hint: both join inputs are
    // hash-partitioned on the key (sym pre-partitioned, labels from the
    // previous round's groupBy via checkpoint, which preserves
    // partitioning), so the hash join needs no exchange and — unlike
    // sort-merge — no per-round re-sort of the cached edge list.
    var prevSum: Option[java.math.BigDecimal] = None
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // A FRESH Observation per round, never reused: an Observation is
      // single-shot — `get` blocks until the FIRST action on the observed
      // plan completes and then pins that result, so re-attaching one
      // across rounds would silently return round-0's sum forever (and
      // Spark rejects re-registration of a named observation on a new
      // plan). The per-round name also keeps metrics distinguishable in
      // listener/UI output.
      val obs = org.apache.spark.sql.Observation(s"cc_round_$iter")
      val neighborMin = sym.hint("SHUFFLE_HASH")
        .join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("lbl"))
        .groupBy("id").agg(min(col("lbl")).as("lbl"))
        .observe(obs, sum(col("lbl").cast("decimal(38,0)")).as("lbl_sum"))
        .transform(Materialize.carried)
      val s = obs.get("lbl_sum").asInstanceOf[java.math.BigDecimal]
      labels = neighborMin
      converged = prevSum.exists(p => p.compareTo(s) == 0)
      prevSum = Some(s)
      iter += 1
    }
    sym.unpersist()
    labels0.unpersist()
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }

  /** Connected components via alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the HIGH-DIAMETER alternative to [[connectedComponents]]: min-label
    * propagation needs O(diameter) rounds (a 10^6-long chain means 10^6
    * shuffles), while the star alternation contracts every component to
    * a star rooted at its minimum id in O(log²) rounds regardless of
    * diameter. Near-dup clusters are shallow, so min-label stays the
    * default; use this when edges come from chains (temporal linkage,
    * record linkage across snapshots).
    *
    * Each half-round is one groupBy (per-node minimum) + one join
    * (re-attach to neighbors), both on the node id — no adjacency lists
    * are ever collected, so a 10^8-degree hub costs its edge count, not
    * a collect_set blowup. Convergence = (|E|, Σchild, Σparent)
    * unchanged across a full round, with the three scalars observed on
    * the SAME action that materializes the round (one job per
    * half-round). Labels match [[connectedComponents]] exactly: every
    * vertex gets its component's minimum id.
    *
    * Returns (id, cluster_id) for every vertex in >= 1 edge (self-loop-
    * only vertices included, labeled by themselves).
    *
    * SMALL-GRAPH FAST PATH: below an explicit edge cap (2^21) with long
    * ids, the component closure runs as one driver-side union-find over
    * the collected edge list instead of O(log²) checkpointed rounds —
    * the iterative machinery exists for graphs that do NOT fit a
    * driver, and paying its per-round job/checkpoint overhead on a
    * few-thousand-edge mutual-kNN graph was pure fixed cost (measured
    * 9.2s -> sub-second at sf0.1, identical labels). Same bounded-
    * driver-work-with-distributed-fallback discipline as the segment-
    * dedup broadcast cap. */
  def connectedComponentsStar(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30, smallGraphCap: Long = 1L << 21): DataFrame = {
    val e0 = edges.select(col(aCol).as("u"), col(bCol).as("v")).distinct()
    val allVertices = e0.select(col("u")).union(e0.select(col("v")))
      .distinct().withColumnRenamed("u", "id")
      .persist()
    // (child, parent) with parent < child; drop self-loops from the work
    // list (their vertices re-enter via allVertices at the end)
    var e = e0.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()
      .transform(Materialize.carried)

    // small-graph fast path (cap + type gate; falls through otherwise —
    // specs for the iterative machinery pass smallGraphCap = 0)
    if (smallGraphCap > 0 && e.schema.fields.forall(_.dataType ==
        org.apache.spark.sql.types.LongType) &&
        e.count() <= smallGraphCap &&
        allVertices.count() <= 2 * smallGraphCap) {
      val parent = new scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) {
          val n = parent(c); parent(c) = r; c = n
        }
        r
      }
      // union-by-min: the larger root attaches under the smaller, so a
      // tree's root IS its component's minimum id — the same label the
      // star alternation converges to
      e.collect().foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val spark = edges.sparkSession
      val labeled = allVertices.collect().map { r =>
        val v = r.getLong(0)
        org.apache.spark.sql.Row(v, find(v))
      }
      allVertices.unpersist()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster_id",
          org.apache.spark.sql.types.LongType, nullable = false)))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(labeled.toSeq,
          math.max(1, labeled.length / 500000)), schema)
    }

    // one star half-round: per node u, m = min(Γ(u) ∪ {u}); attach the
    // selected neighbors (strictly greater for large-star, smaller-or-
    // equal plus u itself for small-star) directly to m
    def star(cur: DataFrame, large: Boolean): DataFrame = {
      val sym = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val attached = sym.join(mins, "u")
      val emitted =
        if (large)
          attached.filter(col("v") > col("u"))
            .select(col("v").as("u"), col("m").as("v"))
        else
          attached.filter(col("v") < col("u"))
            .select(col("v").as("u"), col("m").as("v"))
            .union(mins.select(col("u"), col("m").as("v")))
      emitted.filter(col("u") =!= col("v")).distinct()
    }

    var prev: Option[(Long, java.math.BigDecimal, java.math.BigDecimal)] = None
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // Only the FULL round's output is loop-carried state — the
      // large-star intermediate is consumed (4 plan references: sym twice
      // and mins once over sym) solely by this round's small star, so it
      // takes a lazy DISK_ONLY persist that materializes inside the SAME
      // job as the small-star checkpoint: one job + one reliable
      // checkpoint write per round, where checkpointing both half-rounds
      // paid two of each. Locally the variants measure within noise
      // (same-session A/B at sf0.1: 9.5s lazy-persist vs 10.25s
      // double-checkpoint on a contended box) — the shape is kept for
      // the CLUSTER posture, where each skipped checkpoint write is a
      // round trip to durable shared storage, not a local disk. Lineage
      // still truncates every round at the small-star checkpoint, so
      // plan growth stays bounded.
      val afterLarge = star(e, large = true).persist(StorageLevel.DISK_ONLY)
      val obs = org.apache.spark.sql.Observation(s"cc_round_$iter")
      val next = star(afterLarge, large = false)
        .observe(obs,
          count(lit(1)).as("cnt"),
          sum(col("u").cast("decimal(38,0)")).as("su"),
          sum(col("v").cast("decimal(38,0)")).as("sv"))
        .transform(Materialize.carried)
      val m = obs.get
      afterLarge.unpersist(blocking = false)
      val sig = (m("cnt").asInstanceOf[Long],
        m("su").asInstanceOf[java.math.BigDecimal],
        m("sv").asInstanceOf[java.math.BigDecimal])
      e = next
      converged = prev.exists(p =>
        p._1 == sig._1 && p._2.compareTo(sig._2) == 0 && p._3.compareTo(sig._3) == 0)
      prev = Some(sig)
      iter += 1
    }
    // fixed point is a star forest rooted at component minima: children
    // label by their parent, everything else labels itself
    val children0 = e.select(col("u").as("id"), col("v").as("cluster_id"))
    // labeling contract: ONE label per vertex. If the loop exhausted
    // maxIter before the signature converged, the edge list may still be
    // mid-contraction (a vertex with several parents would emit several
    // conflicting rows) — normalize with min(cluster_id) per vertex and
    // warn: the result is a VALID labeling refinement (each label is some
    // component member's id) but components may remain split; callers
    // needing the exact minimum label must raise maxIter.
    val children =
      if (converged) children0
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"connectedComponentsStar: not converged after $maxIter iterations; " +
            "emitting min(parent) per vertex — components may remain split. " +
            "Raise maxIter (O(log^2 |V|) rounds suffice for any graph).")
        children0.groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id"))
      }
    val selfLabeled = allVertices
      .join(children.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"))
    val out = children.union(selfLabeled)
    allVertices.unpersist()
    out
  }

  /** Blocked fuzzy dedup (entity-resolution style): block on a prefix of
    * the normalized text, pair only within blocks, verify candidates by
    * Levenshtein distance over a bounded prefix. Blocking caps join work
    * at Σ|block|² — never |corpus|² — and the O(len²) edit distance runs
    * only on candidate pairs over `comparePrefixLen` chars. The pattern
    * scales by tuning the block key (longer prefix → smaller blocks);
    * the distance itself stays a codegen'd built-in. */
  def fuzzyBlockedPairs(df: DataFrame, idCol: String, textCol: String,
      blockPrefixLen: Int = 30, comparePrefixLen: Int = 150,
      maxDistance: Int = 30): DataFrame = {
    val base = df.select(col(idCol).as("id"),
        TextOps.normalize(col(textCol)).as("norm"))
      .select(col("id"),
        substring(col("norm"), 1, blockPrefixLen).as("blk"),
        substring(col("norm"), 1, comparePrefixLen).as("cmp"))
    base.as("a").join(base.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        // thresholded variant: abandons the DP early (returns -1) once the
        // distance provably exceeds maxDistance — O(len*maxDistance)
        // instead of O(len^2) per far-apart candidate pair
        levenshtein(col("a.cmp"), col("b.cmp"), maxDistance)
          .cast(LongType).as("edit_distance"))
      .filter(col("edit_distance") >= 0)
  }

  /** Cross-table record linkage ([[fuzzyBlockedPairs]]'s two-table
    * sibling): resolve each EXTERNAL record against a CANONICAL table by
    * blocking on a name prefix and picking the best in-block candidate
    * by (Levenshtein asc, canonical key asc) — the arg-min shape real
    * linkage uses where a hard threshold would leave records unresolved.
    *
    * The blocking key is `substr(name, 1, blockPrefixLen)` — a key whose
    * CARDINALITY SCALES WITH THE DATA: more records means more distinct
    * prefixes and roughly constant block size, so candidate cost stays
    * Σ|blockA|·|blockB| ∝ N. Blocking on low-cardinality attributes
    * (region, segment, resolution…) instead fixes the block count
    * forever and makes within-block cost O(N²/constant) — quadratic at
    * scale with guaranteed hot partitions; a longer prefix tightens
    * blocks exactly like [[fuzzyBlockedPairs]]'s `blockPrefixLen`.
    * The arg-min is a map-combined `min_by` aggregate (no ranking
    * window — nothing sorts per key, partials combine). Externals whose
    * block holds no canonical record drop out, standard blocking
    * behavior: recall is the prefix-stability assumption, i.e. the true
    * match's corruption must not touch the first `blockPrefixLen` chars.
    *
    * Output: one row per resolvable external — (extKey, matched
    * canonical key, edit_distance). */
  def linkBestMatchBlocked(canonical: DataFrame, keyCol: String, nameCol: String,
      external: DataFrame, extKeyCol: String, extNameCol: String,
      blockPrefixLen: Int): DataFrame = {
    require(blockPrefixLen >= 1, "blockPrefixLen must be >= 1")
    val c = canonical.select(col(keyCol).as("__ckey"), col(nameCol).as("__cname"),
      substring(col(nameCol), 1, blockPrefixLen).as("__blk"))
    val x = external.select(col(extKeyCol).as("__xkey"), col(extNameCol).as("__xname"),
      substring(col(extNameCol), 1, blockPrefixLen).as("__blk"))
    c.join(x, "__blk")
      .select(col("__xkey"),
        levenshtein(col("__cname"), col("__xname")).cast(LongType).as("__dist"),
        col("__ckey"))
      .groupBy(col("__xkey"))
      .agg(min_by(struct(col("__ckey"), col("__dist")),
        struct(col("__dist"), col("__ckey"))).as("__m"))
      .select(col("__xkey").as(extKeyCol),
        col("__m.__ckey").as("matched_key"),
        col("__m.__dist").as("edit_distance"))
  }

  /** SORTED-NEIGHBORHOOD candidate pairs (Hernández & Stolfo 1995, "The
    * merge/purge problem") — the third classic blocking paradigm next to
    * key blocking ([[linkBestMatchBlocked]]) and LSH
    * ([[minhashLshPairs]]): sort the corpus by a discriminating key,
    * pair every record with its `window` successors, verify by edit
    * distance. Catches near-dups whose corruption moved them OFF a
    * prefix block (prefix blocking needs the damage to spare the
    * prefix; sorted order only needs it to keep the records CLOSE in
    * sort order).
    *
    * Scale shape: the global sort is [[Sampling.denseIndex]] (range
    * partitions, per-partition ranks, broadcast offsets — no
    * single-partition window), and the windowed self-join is the binned
    * range-join recipe: each record probes bucket `rnk div window` and
    * its successor, so candidates are an equi-join with ≤2 buckets per
    * row and total pair work is N·window — linear, skew-free (ranks are
    * unique by construction). */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, nameCol: String,
      window: Int, maxDistance: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val ranked = Sampling.denseIndex(
      df.select(col(idCol).as("id"), col(nameCol).as("nm")),
      Seq("nm", "id"), "rnk")
    val build = ranked.select(col("id").as("id_b"), col("nm").as("nm_b"),
      col("rnk").as("rnk_b"), expr(s"rnk div $window").as("bkt"))
    val probe = ranked.select(col("id").as("id_a"), col("nm").as("nm_a"),
        col("rnk").as("rnk_a"),
        explode(array(expr(s"rnk div $window"), expr(s"rnk div $window + 1")))
          .as("bkt"))
    probe.join(build, "bkt")
      .filter(col("rnk_b") > col("rnk_a") &&
        col("rnk_b") <= col("rnk_a") + window)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("nm_a"), col("nm_b"), maxDistance)
          .cast(LongType).as("edit_distance"))
      .filter(col("edit_distance") >= 0)
  }

  /** Exact n-gram Jaccard pairs >= threshold, with PPJoin-style prefix
    * filtering for candidate generation (exact — no recall loss):
    *
    * Order every doc's shingles by a global canonical order (ascending
    * document frequency, then shingle). If J(A,B) >= t then
    * |A∩B| >= ceil(t*|A|), so the shared shingles cannot all hide in A's
    * most-frequent suffix of length ceil(t*|A|)-1 — the prefixes of
    * length |S| - ceil(t*|S|) + 1 of any qualifying pair must intersect.
    * The inverted-index self-join therefore runs only over prefixes, in
    * which hot (high-df) shingles almost never appear — this is what
    * keeps posting lists short when the corpus vocabulary is small, and
    * is the difference between |prefix-bucket|² and |corpus-bucket|²
    * join work at 100 TB. Exact Jaccard is then computed per candidate
    * pair from the full shingle arrays (array_intersect).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    // distinct (id, shingle) rows — persisted because four downstream
    // stages (doc sizes, doc frequencies, prefix index, overlap count)
    // consume it; ContextCleaner reclaims the cache when unreferenced.
    // Shingles are reduced to their 64-bit md5 prefix immediately: every
    // downstream stage only needs equality, and an 8-byte long shuffles
    // ~2.5x less data than a ~20-byte trigram string across the 4
    // consuming stages (collisions at 2^-64 per pair would surface as an
    // oracle mismatch — the string-shingled DuckDB oracle is the net).
    val inv = TextOps.wordShingleRows(df, idCol, textCol, shingleN)
      .select(col("id"), graft.functions.md5_hash64(col("sh")).as("sh"))
      .persist()
    val counts = inv.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val dfreq = inv.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("df").asc, col("sh").asc)
    val prefix = inv.join(dfreq, "sh").join(counts, "id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
      .select(col("id"), col("sh"), col("rn"), col("n_sh"))
    // PPJoin prunes — all exactness-preserving:
    //  size filter: J >= t forces t*|A| <= |B| <= |A|/t;
    //  position filter: a match at prefix positions (rn_a, rn_b) bounds the
    //  overlap by 1 + min(|A|-rn_a, |B|-rn_b), which must reach the
    //  equivalent-overlap requirement alpha = ceil(t/(1+t) * (|A|+|B|)).
    val alpha = ceil(lit(threshold / (1 + threshold)) * (col("a.n_sh") + col("b.n_sh")))
    val overlapUb = lit(1) + least(
      col("a.n_sh") - col("a.rn"), col("b.n_sh") - col("b.rn"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
        col("b.n_sh") >= ceil(lit(threshold) * col("a.n_sh")) &&
        col("b.n_sh") <= floor(col("a.n_sh") / lit(threshold)) &&
        overlapUb >= alpha)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // Exact overlap per candidate pair via the inverted index itself:
    // expand each (rare) candidate pair by A's shingle rows, then count
    // matches against B's rows. Both joins keep the small candidate side
    // broadcastable, so the big `inv` relation streams through WITHOUT a
    // shuffle — unlike the previous collect_list(shingles) formulation,
    // which re-shuffled every shingle of the whole corpus just to
    // array_intersect a few candidate pairs (measured ~35% of query time
    // at sf0.1; at 100 TB a full-corpus array materialization is the
    // difference between candidate-bound and corpus-bound cost).
    val shared = cand
      .join(inv.select(col("id").as("id_a"), col("sh")), "id_a")
      .join(inv.select(col("id").as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
    val ratio = DecimalType(18, 6)
    shared
      .join(counts.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(counts.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        (col("n_shared").cast(ratio) /
          (col("n_a") + col("n_b") - col("n_shared")).cast(ratio)).cast(ratio))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Directed n-gram CONTAINMENT pairs: emit (a, b, c) where
    * c = |grams(A) ∩ grams(B)| / |grams(A)| >= `threshold` — "A is
    * (nearly) contained in B". Resemblance (Jaccard) misses this class
    * entirely: a paragraph quoted inside a 100× longer page has Jaccard
    * ≈ 0.01 but containment ≈ 1.0, and it is containment that catches
    * quote-plagiarism, subset-crawls and doc-in-doc training leakage
    * (Broder's original resemblance/containment split).
    *
    * Same exact-pruning discipline as [[ngramJaccardPairs]], adapted to
    * the asymmetric score. Qualifying needs overlap >= ceil(t*|A|), so
    * if NONE of A's (|A| - ceil(t*|A|) + 1) globally-rarest shingles
    * occurs in B, the remaining ceil(t*|A|) - 1 cannot reach the bound —
    * probing only A's prefix rows against the inverted index is exact.
    * No size filter exists here (B may be arbitrarily large — that is
    * the point), so the prefix is the entire defense: it is built
    * rare-first (ascending global document frequency), which keeps the
    * probed posting lists short. Cost stays candidate-bound, never
    * corpus²: the index join touches only prefix-shingle postings, and
    * the exact-overlap count expands candidate pairs against the
    * persisted index with the small side broadcastable. */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.9): DataFrame = {
    val inv = TextOps.wordShingleRows(df, idCol, textCol, shingleN)
      .select(col("id"), graft.functions.md5_hash64(col("sh")).as("sh"))
      .persist()
    val counts = inv.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val dfreq = inv.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("df").asc, col("sh").asc)
    val prefix = inv.join(dfreq, "sh").join(counts, "id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
      .select(col("id"), col("sh"))
    val cand = prefix.as("a").join(inv.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val shared = cand
      .join(inv.select(col("id").as("id_a"), col("sh")), "id_a")
      .join(inv.select(col("id").as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
    val ratio = DecimalType(18, 6)
    shared
      .join(counts.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .withColumn("containment",
        (col("n_shared").cast(ratio) / col("n_a").cast(ratio)).cast(ratio))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }
}
