package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.ops.{Multimodal, Packing, Sampling, Scd, Similarity, Sketches, Skew, TextOps}

/** Third-ring surface: corpus-curation and lakehouse-maintenance
  * operators a 100 TB training-data pipeline runs daily — sequence
  * packing, benchmark decontamination, sketch-based cardinality, bloom-
  * pruned joins, SCD2 dimension merge, salted aggregation, and time-range
  * window frames. Every query carries a value-level DuckDB oracle (the
  * sketch/salt/bloom queries are oracle-able because their RESULTS are
  * engine-neutral even where their execution strategy is the point).
  */
object CurationQueries {

  private val money = DecimalType(18, 2)

  private val normalizeSql: String =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Concat-and-chunk sequence packing: shard the corpus, pack each
    * shard's id-ordered token stream into 1000-token chunks, report
    * docs/tokens/boundary-straddlers per chunk. */
  val packChunks: QueryDef = QueryDef(
    "pack_chunks",
    (s, d) => Packing.chunkSummary(Tables.documents(s, d), "doc_id", "text",
        nShards = 8, budgetTokens = 1000)
      .orderBy("shard", "chunk_id"),
    Some("""WITH base AS (
      |  SELECT doc_id % 8 AS shard, doc_id AS id,
      |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT shard, id, n_tokens,
      |    COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM base),
      |a AS (
      |  SELECT shard, n_tokens, CAST(cum_before // 1000 AS BIGINT) AS chunk_id,
      |    CASE WHEN n_tokens > 0 AND (cum_before + n_tokens - 1) // 1000 > cum_before // 1000
      |         THEN 1 ELSE 0 END AS straddles
      |  FROM c)
      |SELECT shard, chunk_id, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(sum(straddles) AS BIGINT) AS n_straddling
      |FROM a GROUP BY shard, chunk_id ORDER BY shard, chunk_id""".stripMargin))

  /** Benchmark decontamination: flag corpus docs sharing any word 5-gram
    * with a probe set (the 200-char prefixes of every 50th doc stand in
    * for benchmark prompts). Probe shingle set broadcasts; the corpus
    * side never shuffles. */
  val textContamination: QueryDef = QueryDef(
    "text_contamination",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val probes = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), substring(col("text"), 1, 200).as("text"))
      TextOps.contaminationCounts(docs, "doc_id", "text",
          probes, "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"), col("n_shared_shingles"))
        .orderBy("doc_id")
    },
    Some {
      val shingles =
        "list_distinct([array_to_string(w[i:i+4], ' ') for i in range(1, greatest(len(w) - 3, 1))])"
      s"""WITH probes AS (
        |  SELECT substr(text, 1, 200) AS text FROM documents WHERE doc_id % 50 = 0),
        |pw AS (SELECT string_split($normalizeSql, ' ') AS w FROM probes),
        |psh AS (SELECT DISTINCT unnest($shingles) AS s FROM pw),
        |cw AS (SELECT doc_id, string_split($normalizeSql, ' ') AS w FROM documents),
        |csh AS (SELECT DISTINCT doc_id, unnest($shingles) AS s FROM cw)
        |SELECT doc_id, count(*) AS n_shared_shingles
        |FROM csh JOIN psh USING (s)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    })

  /** KMV bottom-k distinct-count sketch over lineitem part keys, with
    * the exact count alongside — the estimator itself is in the oracle
    * gate (shared md5 arithmetic, deterministic IEEE estimate). */
  val sketchKmvDistinct: QueryDef = QueryDef(
    "sketch_kmv_distinct",
    (s, d) => Sketches.kmvDistinct(Tables.lineitem(s, d), "l_partkey", k = 256)
      .crossJoin(Tables.lineitem(s, d)
        .agg(countDistinct(col("l_partkey")).as("exact_distinct"))),
    Some("""WITH h AS (
      |  SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM lineitem),
      |b AS (SELECT h FROM h ORDER BY h ASC LIMIT 256),
      |s AS (SELECT count(*) AS n_kept, max(h) AS kth FROM b),
      |e AS (SELECT count(DISTINCT l_partkey) AS exact_distinct FROM lineitem)
      |SELECT n_kept, kth,
      |  round(CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
      |    ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) / CAST(kth AS DOUBLE)
      |    END, 2) AS est_distinct,
      |  exact_distinct
      |FROM s, e""".stripMargin))

  /** HyperLogLog++ per-group distinct-count sketch with an in-query
    * error gate. The sketch value itself is engine-specific (Spark's
    * HLL++ and any oracle's will disagree), so the GATE is the part
    * that's portable: the exact per-group count plus a boolean asserting
    * the estimate landed within 3× the configured relative standard
    * deviation — deterministic on fixed data, and FALSE (an oracle
    * mismatch) if the estimator ever degrades. Scale story vs the KMV
    * twin: HLL++ is a fixed ~kilobyte mergeable state per group — the
    * map-side partial aggregate ships sketches, not values, so distinct
    * counting costs one narrow shuffle of O(groups) sketch bytes where
    * exact COUNT(DISTINCT) shuffles every distinct value. */
  val sketchHllDistinct: QueryDef = QueryDef(
    "sketch_hll_distinct",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val approx = Sketches.approxDistinct(li, Seq("l_returnflag"), "l_partkey",
        rsd = 0.05)
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_distinct"))
      approx.join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("exact_distinct"),
          (abs(col("approx_distinct") - col("exact_distinct")).cast("double") /
            col("exact_distinct").cast("double") <= 0.15).as("within_bound"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_distinct,
      |  TRUE AS within_bound
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Corpus snapshot diff — the dataset-governance pass between two
    * crawl/ingest versions: classify every doc id as added / removed /
    * modified / unchanged by comparing content fingerprints across a
    * FULL OUTER join on the id, and report per-source counts. The v2
    * snapshot is synthesized with all three change classes (every 17th
    * doc removed, every 13th re-crawled with changed content, a new-id
    * slice added), so each branch of the classifier is value-gated.
    * Scale: one shuffle per side on the id; only (id, source, 16-byte
    * fingerprint) rows move — content never shuffles — and the
    * aggregation is map-side partial. This is the audit a 100 TB corpus
    * runs between snapshots before retraining: what churned, where. */
  val curateSnapshotDiff: QueryDef = QueryDef(
    "curate_snapshot_diff",
    (s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source"))
      def fpOf(df: org.apache.spark.sql.DataFrame, fpCol: String) =
        df.select(col("doc_id"), col("source"), md5(col("text")).as(fpCol))
      val v1 = fpOf(base, "fp1")
      val v2 = fpOf(
        base.filter(col("doc_id") % 17 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 13 === 0, concat(col("text"), lit(" recrawled")))
              .otherwise(col("text")))
          .unionByName(base.filter(col("doc_id") % 23 === 0)
            .select((col("doc_id") + 500000).as("doc_id"), col("text"),
              col("source"))),
        "fp2")
      v1.join(v2.withColumnRenamed("source", "source2"), Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("fp2").isNull, "removed")
            .when(col("fp1").isNull, "added")
            .when(col("fp1") =!= col("fp2"), "modified")
            .otherwise("unchanged"))
        .withColumn("src", coalesce(col("source"), col("source2")))
        .groupBy(col("src"), col("status"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("src", "status")
    },
    Some("""WITH v1 AS (SELECT doc_id, source, md5(text) AS fp1 FROM documents),
      |v2 AS (
      |  SELECT doc_id, source,
      |    md5(CASE WHEN doc_id % 13 = 0 THEN text || ' recrawled' ELSE text END) AS fp2
      |  FROM documents WHERE doc_id % 17 <> 0
      |  UNION ALL
      |  SELECT doc_id + 500000 AS doc_id, source, md5(text) AS fp2
      |  FROM documents WHERE doc_id % 23 = 0),
      |j AS (
      |  SELECT COALESCE(v1.source, v2.source) AS src,
      |    CASE WHEN fp2 IS NULL THEN 'removed'
      |         WHEN fp1 IS NULL THEN 'added'
      |         WHEN fp1 <> fp2 THEN 'modified'
      |         ELSE 'unchanged' END AS status
      |  FROM v1 FULL OUTER JOIN v2 USING (doc_id))
      |SELECT src, status, count(*) AS n_docs
      |FROM j GROUP BY src, status ORDER BY src, status""".stripMargin))

  /** Count-min frequency sketch audited by its ONE-SIDED error contract:
    * CM never undercounts (every counter the key hashes to saw all its
    * increments — `never_under` is a hard guarantee, not probabilistic)
    * and overcounts by at most ε·N with the configured confidence. The
    * audit runs the sketch against the exact counts of the top-10
    * heaviest supplier keys (deterministically selected: count desc, key
    * asc — planned as TakeOrdered, a bounded per-partition heap, never a
    * global sort) and ships only the exact counts + the two verdict
    * booleans across the oracle. Scale story: the sketch is a fixed
    * ~(2/ε)·depth counter grid built in one mergeable pass — frequency
    * estimation for ANY later key probe without touching the corpus
    * again; the 10-key estimate loop is driver-side by design (bounded,
    * over a collected 10-row TakeOrdered result). */
  val sketchCmTopk: QueryDef = QueryDef(
    "sketch_cm_topk",
    (s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d)
      val eps = 0.0005
      val n = li.count()
      val cms = Sketches.countMinSketch(li.select(col("l_suppkey")), "l_suppkey",
        eps = eps)
      val slack = math.ceil(eps * n).toLong
      val top = li.groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("l_suppkey").asc)
        .limit(10)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // Round-10 ADVICE: only `never_under` is a HARD (deterministic) CMS
      // guarantee; `est <= exact + eps*n` holds per-key with 99% confidence,
      // so asserting it as constant TRUE cross-engine would make the gate
      // data-dependent (a regenerated corpus could legitimately violate it).
      // The eps audit stays as a stderr diagnostic + SketchesSpec pin on the
      // shipped deterministic data; the oracle crosses only the hard bound.
      top.foreach { case (k, exact) =>
        val est = cms.estimateCount(Long.box(k))
        System.err.println(
          s"[sketch] cm_topk key=$k exact=$exact est=$est slack=$slack " +
            s"within_eps=${est <= exact + slack}")
      }
      top.map { case (k, exact) =>
        (k, exact, cms.estimateCount(Long.box(k)) >= exact)
      }.toSeq
        .toDF("l_suppkey", "exact_cnt", "never_under")
        .orderBy("l_suppkey")
    },
    Some("""SELECT * FROM (
      |  SELECT l_suppkey, count(*) AS exact_cnt, TRUE AS never_under
      |  FROM lineitem GROUP BY l_suppkey
      |  ORDER BY exact_cnt DESC, l_suppkey ASC LIMIT 10)
      |ORDER BY l_suppkey""".stripMargin))

  /** Bloom-pre-filtered join: probe lineitem is filtered by a bloom
    * filter built on the small build side BEFORE the shuffle; the exact
    * join then removes false positives, so the result — and the oracle —
    * is the plain join. What the bloom changes is shuffle volume. */
  val qBloomJoin: QueryDef = QueryDef(
    "q_bloom_join",
    (s, d) => {
      val build = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey").as("l_orderkey"))
      Sketches.bloomPrunedJoin(Tables.lineitem(s, d), build, "l_orderkey",
          expectedItems = 20000L)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(money)).cast("double").as("sum_qty"))
    },
    Some("""SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |JOIN (SELECT o_orderkey FROM orders
      |      WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 50 = 0) o
      |  ON l_orderkey = o_orderkey""".stripMargin))

  /** SCD2 dimension merge: current customer snapshot + two update
    * batches -> compressed validity intervals per key (no-op updates are
    * compressed away; one window pass, no self-joins). */
  val mergeScd2: QueryDef = QueryDef(
    "merge_scd2",
    (s, d) => {
      val c = Tables.customer(s, d)
      val snapshot = c.select(col("c_custkey"), lit(0L).as("version"),
        col("c_mktsegment").as("segment"))
      // batch 1: every 10th key; every 30th "changes" to its current
      // value (a no-op the history compression must drop)
      val batch1 = c.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), lit(1L).as("version"),
          when(col("c_custkey") % 30 === 0, col("c_mktsegment"))
            .otherwise(lit("SEG_A")).as("segment"))
      val batch2 = c.filter(col("c_custkey") % 20 === 0)
        .select(col("c_custkey"), lit(2L).as("version"), lit("SEG_B").as("segment"))
      Scd.scd2(snapshot.union(batch1).union(batch2),
          Seq("c_custkey"), "version", Seq("segment"))
        .filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), col("segment"), col("valid_from"),
          col("valid_to"), col("is_current"))
        .orderBy("c_custkey", "valid_from")
    },
    Some("""WITH changes AS (
      |  SELECT c_custkey, 0::BIGINT AS version, c_mktsegment AS segment FROM customer
      |  UNION ALL
      |  SELECT c_custkey, 1::BIGINT,
      |    CASE WHEN c_custkey % 30 = 0 THEN c_mktsegment ELSE 'SEG_A' END
      |  FROM customer WHERE c_custkey % 10 = 0
      |  UNION ALL
      |  SELECT c_custkey, 2::BIGINT, 'SEG_B' FROM customer WHERE c_custkey % 20 = 0),
      |d AS (
      |  SELECT c_custkey, version, segment,
      |    lag(segment) OVER (PARTITION BY c_custkey ORDER BY version) AS prev_seg
      |  FROM changes),
      |kept AS (
      |  SELECT c_custkey, version, segment FROM d
      |  WHERE prev_seg IS NULL OR segment <> prev_seg),
      |iv AS (
      |  SELECT c_custkey, segment, version AS valid_from,
      |    lead(version) OVER (PARTITION BY c_custkey ORDER BY version) - 1 AS valid_to
      |  FROM kept)
      |SELECT c_custkey, segment, valid_from, valid_to,
      |  valid_to IS NULL AS is_current
      |FROM iv WHERE c_custkey % 10 = 0
      |ORDER BY c_custkey, valid_from""".stripMargin))

  /** Point-in-version SCD2 LOOKUP — the consumption side of
    * [[mergeScd2]]: every fact row (orders, with an `at_version` event
    * time derived from its key) is enriched with the dimension attribute
    * that was VALID at that version, via key-equi-join + validity-range
    * residual. The scale shape is the one that matters: the history
    * table is dimension-sized, so it BROADCASTS and the fact corpus
    * never shuffles — per-key histories are tiny, so the range residual
    * scans a handful of broadcast-local intervals per probe. The SCD2
    * intervals cover [0, ∞) by construction (snapshot at version 0), so
    * exactly one interval matches per fact — the oracle replays the
    * history compression and the temporal join verbatim. */
  val qScd2Lookup: QueryDef = QueryDef(
    "q_scd2_lookup",
    (s, d) => {
      val c = Tables.customer(s, d)
      val snapshot = c.select(col("c_custkey"), lit(0L).as("version"),
        col("c_mktsegment").as("segment"))
      val batch1 = c.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), lit(1L).as("version"),
          when(col("c_custkey") % 30 === 0, col("c_mktsegment"))
            .otherwise(lit("SEG_A")).as("segment"))
      val batch2 = c.filter(col("c_custkey") % 20 === 0)
        .select(col("c_custkey"), lit(2L).as("version"),
          lit("SEG_B").as("segment"))
      val dim = Scd.scd2(snapshot.union(batch1).union(batch2),
        Seq("c_custkey"), "version", Seq("segment"))
      val facts = Tables.orders(s, d).filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_orderkey") % 3).as("at_version"))
      facts.join(broadcast(dim),
          facts("o_custkey") === dim("c_custkey") &&
            col("at_version") >= col("valid_from") &&
            (col("valid_to").isNull || col("at_version") <= col("valid_to")))
        .select(col("o_orderkey"), col("o_custkey"), col("at_version"),
          col("segment"))
        .orderBy("o_orderkey")
    },
    Some("""WITH changes AS (
      |  SELECT c_custkey, 0::BIGINT AS version, c_mktsegment AS segment FROM customer
      |  UNION ALL
      |  SELECT c_custkey, 1::BIGINT,
      |    CASE WHEN c_custkey % 30 = 0 THEN c_mktsegment ELSE 'SEG_A' END
      |  FROM customer WHERE c_custkey % 10 = 0
      |  UNION ALL
      |  SELECT c_custkey, 2::BIGINT, 'SEG_B' FROM customer WHERE c_custkey % 20 = 0),
      |dd AS (
      |  SELECT c_custkey, version, segment,
      |    lag(segment) OVER (PARTITION BY c_custkey ORDER BY version) AS prev_seg
      |  FROM changes),
      |kept AS (
      |  SELECT c_custkey, version, segment FROM dd
      |  WHERE prev_seg IS NULL OR segment <> prev_seg),
      |iv AS (
      |  SELECT c_custkey, segment, version AS valid_from,
      |    lead(version) OVER (PARTITION BY c_custkey ORDER BY version) - 1 AS valid_to
      |  FROM kept),
      |f AS (SELECT o_orderkey, o_custkey, o_orderkey % 3 AS at_version
      |  FROM orders WHERE o_orderkey % 10 = 0)
      |SELECT o_orderkey, o_custkey, at_version, segment
      |FROM f JOIN iv ON f.o_custkey = iv.c_custkey
      |  AND at_version >= valid_from
      |  AND (valid_to IS NULL OR at_version <= valid_to)
      |ORDER BY o_orderkey""".stripMargin))

  /** Two-phase salted aggregation over a 3-value hot grouping key — the
    * result equals the plain groupBy (which is the oracle); the salt
    * spreads each hot key over 16 reducers first. */
  val qSaltedAgg: QueryDef = QueryDef(
    "q_salted_agg",
    (s, d) => Skew.saltedCountSum(Tables.lineitem(s, d),
        col("l_returnflag"), col("l_orderkey"),
        col("l_quantity").cast(money), buckets = 16, keyName = "l_returnflag")
      .select(col("l_returnflag"), col("n"),
        col("total").cast("double").as("total_qty"))
      .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Detector-driven skew mitigation end-to-end: heavy hitters of the
    * grouping key are DISCOVERED (sampled nomination + count-min
    * verification, deterministic cutoff), and only those keys aggregate
    * through the two-phase salt; the cold remainder aggregates plain.
    * Here all 3 l_returnflag values exceed the 10% share threshold, so
    * the whole corpus takes the salted path — the result must still equal
    * the plain GROUP BY oracle exactly. */
  val qSkewAdaptive: QueryDef = QueryDef(
    "q_skew_adaptive",
    (s, d) => Skew.adaptiveCountSum(Tables.lineitem(s, d), "l_returnflag",
        col("l_orderkey"), col("l_quantity").cast(money),
        minShare = 0.1, buckets = 16)
      .select(col("l_returnflag"), col("n"),
        col("total").cast("double").as("total_qty"))
      .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** The NON-reducible skew case end-to-end: exact sorted distinct-value
    * list per hot key ([[Skew.adaptiveDistinctList]] — collect_set has no
    * shrinking map-side combine, so without value-salting every row of a
    * hot key funnels through one reducer). All 3 l_returnflag values are
    * detector-hot at the 10% share bar, so the whole corpus takes the
    * two-phase path; the result must still equal the plain GROUP BY
    * collect oracle exactly. */
  val qSkewAdaptiveList: QueryDef = QueryDef(
    "q_skew_adaptive_list",
    (s, d) => Skew.adaptiveDistinctList(Tables.lineitem(s, d), "l_returnflag",
        month(col("l_shipdate")).cast("int"), minShare = 0.1, buckets = 16,
        outName = "ship_months")
      // the list is already sorted+distinct; render it as one scalar
      // string (the q_string_agg precedent) so every comparator — the
      // driver's included — can sort/hash the output rows
      .select(col("l_returnflag"),
        concat_ws(",", col("ship_months").cast("array<string>"))
          .as("ship_months"))
      .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
      |  array_to_string(list_sort(list(DISTINCT CAST(month(l_shipdate) AS INT))), ',') AS ship_months
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** Time-range window frame: per-user trailing 3-day event count and
    * value sum (RANGE frame over epoch-micros — peers at equal
    * timestamps aggregate identically in both engines; DECIMAL sum makes
    * the result order-independent). */
  val qWindowRangeFrame: QueryDef = QueryDef(
    "q_window_range_frame",
    (s, d) => {
      val threeDaysUs = 3L * 86400 * 1000000
      val w = Window.partitionBy(col("user_id")).orderBy(col("uts"))
        .rangeBetween(-threeDaysUs, 0)
      Tables.events(s, d)
        .filter(col("user_id") % 20 === 0)
        .withColumn("uts", unix_micros(col("ts")))
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_3d"),
          sum(col("value").cast(DecimalType(18, 4))).over(w)
            .cast("double").as("sum_3d"))
        .orderBy("user_id", "event_id")
    },
    Some("""SELECT user_id, event_id,
      |  count(*) OVER w AS n_3d,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_3d
      |FROM events WHERE user_id % 20 = 0
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |  RANGE BETWEEN 259200000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin))

  /** End-to-end corpus curation — the composed pipeline a pretraining
    * data run executes: language gate (en) -> quality gate (>= 20 words)
    * -> exact dedup (keep lowest id per fingerprint) -> shard + pack
    * into 1000-token chunks. One dataflow: the gates are row-local and
    * fuse with the scan, dedup is one fingerprint shuffle, packing is a
    * shard-partitioned window — three shuffles total for the whole
    * pipeline. */
  val pipelineCurate: QueryDef = QueryDef(
    "pipeline_curate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val gated = docs
        .select(col("doc_id"), col("text"),
          TextOps.langId(col("text")).as("lang_pred"),
          TextOps.wordCount(col("text")).as("nw"))
        .filter(col("lang_pred") === "en" && col("nw") >= 20)
      // dedup keeps the lowest-id row per fingerprint via one min_by
      // aggregation that CARRIES the text — a keepers-then-join-back
      // formulation would evaluate the gate subtree (4 language regex
      // scans) twice, once per join side (measured ~2x the query cost).
      // Scale audit of the carried text: min_by partial-aggregates map-
      // side, so at most one text per (fingerprint × partition) reaches
      // the shuffle — duplicate-heavy corpora compress before moving.
      // The alternative (fingerprint-only agg + join-back against a
      // persisted gated relation) does NOT reduce text movement at
      // 100 TB: the keeper-id set is |survivors| (not broadcastable), so
      // the join-back is itself a text-carrying shuffle, plus an extra
      // keeper-id shuffle and a cache of the whole gated corpus.
      val survivors = gated
        .groupBy(TextOps.fingerprint(col("text")).as("fp"))
        .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
      Packing.chunkSummary(survivors, "doc_id", "text", nShards = 4, budgetTokens = 1000)
        .orderBy("shard", "chunk_id")
    },
    Some {
      def hits(l: String, ws: Seq[String]) =
        s"len(list_filter(w, x -> x IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS h_$l"
      val en = Seq("the", "and", "of", "to", "in", "is", "that", "for")
      val es = Seq("el", "la", "de", "que", "los", "las", "una", "por")
      val fr = Seq("le", "la", "les", "des", "est", "dans", "pour", "que")
      val de = Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein")
      s"""WITH words AS (
        |  SELECT doc_id, text, $normalizeSql AS norm, string_split($normalizeSql, ' ') AS w
        |  FROM documents),
        |scoredl AS (
        |  SELECT doc_id, text, norm,
        |    CASE WHEN length(norm) = 0 THEN 0 ELSE len(w) END AS nw,
        |    ${hits("de", de)}, ${hits("en", en)}, ${hits("es", es)}, ${hits("fr", fr)}
        |  FROM words),
        |gated AS (
        |  SELECT doc_id, text, norm FROM (
        |    SELECT *, greatest(h_de, h_en, h_es, h_fr) AS best FROM scoredl) t
        |  WHERE best > 0 AND h_de <> best AND h_en = best AND nw >= 20),
        |keepers AS (
        |  SELECT min(doc_id) AS doc_id FROM (SELECT md5(norm) AS fp, doc_id FROM gated) g
        |  GROUP BY fp),
        |survivors AS (
        |  SELECT g.doc_id, g.text FROM gated g JOIN keepers k ON g.doc_id = k.doc_id),
        |base AS (
        |  SELECT doc_id % 4 AS shard, doc_id AS id,
        |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_tokens
        |  FROM survivors),
        |c AS (
        |  SELECT shard, id, n_tokens,
        |    COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM base),
        |a AS (
        |  SELECT shard, n_tokens, CAST(cum_before // 1000 AS BIGINT) AS chunk_id,
        |    CASE WHEN n_tokens > 0 AND (cum_before + n_tokens - 1) // 1000 > cum_before // 1000
        |         THEN 1 ELSE 0 END AS straddles
        |  FROM c)
        |SELECT shard, chunk_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(straddles) AS BIGINT) AS n_straddling
        |FROM a GROUP BY shard, chunk_id ORDER BY shard, chunk_id""".stripMargin
    })

  /** The full pretraining-corpus preparation chain in ONE dataflow —
    * round 3's operators composed end-to-end under a single oracle:
    * language+quality gates (row-local, fused with the scan) → segment-
    * level boilerplate dedup (broadcast frequent-set, narrow rewrite;
    * empty survivors dropped) → exact fingerprint dedup (one min_by
    * shuffle) → deterministic 90/5/5 hash split (row-local) → per-split
    * document and token totals. Two corpus shuffles end-to-end (the
    * frequency count moves only (id, segment) pairs; the split and the
    * gates move nothing). */
  val pipelinePretrain: QueryDef = QueryDef(
    "pipeline_pretrain",
    (s, d) => {
      // The 4-regex language gate is the most expensive scalar subtree in
      // the pipeline and BOTH segment-dedup passes (frequency count +
      // typed rewrite) would re-evaluate it; materialize the gated subset
      // once (DISK_ONLY persist — recoverable from lineage on block loss
      // and no executor-memory pin, unlike the localCheckpoint this
      // replaced). At 100 TB the gated survivor set is the small fraction
      // of the corpus worth materializing; measured here: 11s → ~7s warm.
      val gated = graft.ops.Materialize.invariant(Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          TextOps.langId(col("text")).as("lang_pred"),
          TextOps.wordCount(col("text")).as("nw"))
        .filter(col("lang_pred") === "en" && col("nw") >= 20)
        .select(col("doc_id"), col("text")))
      val dd = TextOps.removeFrequentSegments(gated, "doc_id", "text", k = 3, minDocs = 2)
        .filter(col("deduped_text") =!= "")
      val survivors = dd
        .groupBy(TextOps.fingerprint(col("deduped_text")).as("fp"))
        .agg(min_by(struct(col("doc_id"), col("deduped_text")), col("doc_id")).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.deduped_text").as("txt"))
      graft.ops.Sampling.deterministicSplit(survivors, "doc_id", "split",
          Seq("train" -> 90, "val" -> 95, "test" -> 100))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("txt")).cast("long")).as("sum_tokens"))
        .orderBy("split")
    },
    Some {
      def hits(l: String, ws: Seq[String]) =
        s"len(list_filter(w, x -> x IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS h_$l"
      val en = Seq("the", "and", "of", "to", "in", "is", "that", "for")
      val es = Seq("el", "la", "de", "que", "los", "las", "una", "por")
      val fr = Seq("le", "la", "les", "des", "est", "dans", "pour", "que")
      val de = Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein")
      s"""WITH words AS (
        |  SELECT doc_id, $normalizeSql AS norm, string_split($normalizeSql, ' ') AS w
        |  FROM documents),
        |scoredl AS (
        |  SELECT doc_id, norm, w,
        |    CASE WHEN length(norm) = 0 THEN 0 ELSE len(w) END AS nw,
        |    ${hits("de", de)}, ${hits("en", en)}, ${hits("es", es)}, ${hits("fr", fr)}
        |  FROM words),
        |gated AS (
        |  SELECT doc_id, norm, w FROM (
        |    SELECT *, greatest(h_de, h_en, h_es, h_fr) AS best FROM scoredl) t
        |  WHERE best > 0 AND h_de <> best AND h_en = best AND nw >= 20),
        |segs AS (
        |  SELECT doc_id,
        |    [array_to_string(w[(3*i+1):(3*i+3)], ' ')
        |     for i in range(0, CAST(ceil(len(w) / 3.0) AS INT))] AS segs
        |  FROM gated),
        |e AS (SELECT DISTINCT doc_id, seg
        |      FROM (SELECT doc_id, unnest(segs) AS seg FROM segs)),
        |freq AS (SELECT seg FROM e GROUP BY seg HAVING count(*) >= 2),
        |bad AS (SELECT coalesce(list(seg ORDER BY seg), []) AS bad FROM freq),
        |dd AS (
        |  SELECT doc_id,
        |    coalesce(array_to_string(
        |      list_filter(segs, x -> NOT list_contains(bad, x)), ' '), '') AS txt
        |  FROM segs, bad),
        |nonempty AS (SELECT doc_id, txt FROM dd WHERE txt <> ''),
        |keepers AS (
        |  SELECT min(doc_id) AS doc_id
        |  FROM (SELECT md5(txt) AS fp, doc_id FROM nonempty) g GROUP BY fp),
        |survivors AS (
        |  SELECT n.doc_id, n.txt FROM nonempty n JOIN keepers k ON n.doc_id = k.doc_id),
        |labeled AS (
        |  SELECT txt,
        |    CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT txt,
        |          CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |            % 100 AS b
        |        FROM survivors))
        |SELECT split, count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(txt, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]'))) AS BIGINT)
        |    AS sum_tokens
        |FROM labeled GROUP BY split ORDER BY split""".stripMargin
    })

  /** The multimodal curation chain in ONE dataflow — every stage the
    * image path grew across rounds 4-6, composed end-to-end under a
    * single oracle: dirty ingest (every 10th payload truncated, plus a
    * cross-format duplicate slice — every 25th image re-encoded PNG↔BMP
    * under a new id: identical rasters, different bytes) → ONE fused
    * codec pass ([[Multimodal.imagePixelFeaturesSafe]]: quarantine
    * verdict + decoded integer features, each container parsed exactly
    * once) → dims-blocked cosine near-dup pairs over the DECODED
    * features (catching the re-encoded copies byte-exact dedup cannot
    * see) → per-status/fmt survivor accounting.
    *
    * Scale shape: payloads never leave their scan partition — the codec
    * boundary is eagerly checkpointed (the [[pipelinePretrain]] gate
    * precedent; at 100 TB decode IS the dominant cost and its output is
    * the small fraction worth materializing), so every exchange in the
    * dataflow moves only (id, dims, 5-float feature) rows. Threshold
    * 0.999999: true duplicate pairs have identical integer features
    * (cos = 1 within one ulp) while the closest distinct feature
    * vectors differ by ≥ 1 in one mean (cos ≤ ~1 − 2e-5) — two orders
    * of magnitude of margin on each side of the cut, so the gate can
    * never ride on a razor-edge float compare. */
  val pipelineMultimodal: QueryDef = QueryDef(
    "pipeline_multimodal",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = Multimodal.imageCorpus(docs)
        .union(Multimodal.imageCorpusCrossDup(docs, every = 25, idOffset = 100000L))
      val dirty = corpus.withColumn("payload",
        when(col("media_id") % 10 === 0, expr("substring(payload, 1, 10)"))
          .otherwise(col("payload")))
      // decode runs once (DISK_ONLY persist), read by both the near-dup
      // pair search and the final status join
      val feats =
        graft.ops.Materialize.invariant(Multimodal.imagePixelFeaturesSafe(dirty))
      val healthy = feats.filter(col("decode_ok"))
      // blocked on the E2LSH quantized-projection key, NOT (width,
      // height): real corpora have a handful of dominant resolutions —
      // a constant-cardinality key, O(N²/constant) at scale — while LSH
      // cell count grows with the data and identical rasters (the
      // re-encode duplicates this stage exists to catch) always share a
      // cell. See Similarity.e2lshKey for the exactness contract.
      val drop = Similarity.cosineNearDupPairsLsh(healthy, "media_id", "feature",
          threshold = 0.999999, nPlanes = 4, dim = 5, bucketWidth = 4.0)
        .select(col("id_b").as("media_id")).distinct()
        .withColumn("is_dup", lit(true))
      feats.join(drop, Seq("media_id"), "left_outer")
        .withColumn("status",
          when(!col("decode_ok"), lit("quarantined"))
            .when(col("is_dup"), lit("dropped"))
            .otherwise(lit("survivor")))
        .groupBy(col("status"), col("fmt"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("width") * col("height")).as("sum_px"),
          sum(element_at(col("feature"), 3).cast("long")).as("sum_r_mean"))
        .orderBy("status", "fmt")
    },
    Some("""WITH dims AS (
      |  SELECT doc_id AS id, 8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h FROM documents),
      |px AS (
      |  SELECT id, w, h,
      |    sum((id*31 + x*7 + y*13) % 256) AS rs,
      |    sum((id*17 + x*11 + y*3) % 256) AS gs,
      |    sum((id*13 + x*5 + y*19) % 256) AS bs
      |  FROM dims, range(0, 16) xs(x), range(0, 13) ys(y)
      |  WHERE x < w AND y < h
      |  GROUP BY id, w, h),
      |feat AS (
      |  SELECT id, w, h, rs // (w*h) AS rm, gs // (w*h) AS gm, bs // (w*h) AS bm FROM px),
      |corpus AS (
      |  SELECT id AS media_id, CASE WHEN id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
      |         w, h, rm, gm, bm
      |  FROM feat
      |  UNION ALL
      |  SELECT id + 100000 AS media_id, CASE WHEN id % 2 = 0 THEN 'bmp' ELSE 'png' END AS fmt,
      |         w, h, rm, gm, bm
      |  FROM feat WHERE id % 25 = 0),
      |flagged AS (
      |  SELECT media_id, fmt, media_id % 10 <> 0 AS decode_ok, w, h, rm, gm, bm FROM corpus),
      |healthy AS (
      |  SELECT media_id, w, h,
      |    [CAST(w AS DOUBLE), CAST(h AS DOUBLE), CAST(rm AS DOUBLE),
      |     CAST(gm AS DOUBLE), CAST(bm AS DOUBLE)] AS v
      |  FROM flagged WHERE decode_ok),
      |planes AS (
      |  SELECT p, list(CASE WHEN strpos('13579bdf', substr(md5(p || ':' || d), 2, 1)) > 0
      |                 THEN 1.0 ELSE -1.0 END ORDER BY d) AS pv
      |  FROM range(0, 4) rp(p), range(1, 6) rd(d)
      |  GROUP BY p),
      |keyed AS (
      |  SELECT media_id, any_value(v) AS v,
      |    string_agg(CAST(CAST(floor(list_dot_product(v, pv) / 4.0) AS BIGINT) AS VARCHAR),
      |               ':' ORDER BY p) AS blk
      |  FROM healthy, planes GROUP BY media_id),
      |pairs AS (
      |  SELECT a.media_id AS id_a, b.media_id AS id_b,
      |    list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
      |  FROM keyed a JOIN keyed b
      |    ON a.blk = b.blk AND a.media_id < b.media_id),
      |dup AS (SELECT DISTINCT id_b AS media_id FROM pairs WHERE cos >= 0.999999),
      |status AS (
      |  SELECT f.media_id, f.fmt,
      |    CASE WHEN NOT f.decode_ok THEN 'quarantined'
      |         WHEN d.media_id IS NOT NULL THEN 'dropped'
      |         ELSE 'survivor' END AS status,
      |    CASE WHEN f.decode_ok THEN CAST(f.w * f.h AS BIGINT) END AS px,
      |    CASE WHEN f.decode_ok THEN CAST(f.rm AS BIGINT) END AS rmv
      |  FROM flagged f LEFT JOIN dup d ON f.media_id = d.media_id)
      |SELECT status, fmt, count(*) AS n_media,
      |  CAST(sum(px) AS BIGINT) AS sum_px, CAST(sum(rmv) AS BIGINT) AS sum_r_mean
      |FROM status GROUP BY status, fmt ORDER BY status, fmt""".stripMargin))

  /** Epoch-shuffle → sequence-packing composition: the per-epoch
    * training read order ([[Sampling.epochShuffle]]'s (shard, pos)
    * permutation) DRIVES concat-and-chunk packing
    * ([[Packing.chunkSummaryBy]] packs each shard's token stream in pos
    * order) — the last link between the materialized global order and
    * the training-read path, gated end-to-end: the oracle replays the
    * md5 shard assignment, the within-shard rank, the prefix sums and
    * the chunk boundaries, and the first_pos/last_pos span per chunk
    * proves the ORDER (not just the totals) drove the packing. Both
    * windows partition by the same shard key, so the whole composition
    * runs on the epoch shuffle's single exchange. */
  val pipelineEpochPack: QueryDef = QueryDef(
    "pipeline_epoch_pack",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val shuffled = Sampling.epochShuffle(docs, "doc_id", epoch = 3, shards = 8)
      Packing.chunkSummaryBy(shuffled, "shard", "pos", "text", budgetTokens = 1000)
        .orderBy("shard", "chunk_id")
    },
    Some("""WITH h AS (
      |  SELECT doc_id, text, md5(concat('3:', CAST(doc_id AS VARCHAR))) AS hc
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, text, hc,
      |    CAST(concat('0x', substr(hc, 1, 15)) AS BIGINT) % 8 AS shard
      |  FROM h),
      |p AS (
      |  SELECT shard, text,
      |    row_number() OVER (PARTITION BY shard ORDER BY hc ASC, doc_id ASC) AS pos
      |  FROM sh),
      |base AS (
      |  SELECT shard, pos,
      |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_tokens
      |  FROM p),
      |c AS (
      |  SELECT shard, pos, n_tokens,
      |    COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM base),
      |a AS (
      |  SELECT shard, pos, n_tokens, CAST(cum_before // 1000 AS BIGINT) AS chunk_id,
      |    CASE WHEN n_tokens > 0 AND (cum_before + n_tokens - 1) // 1000 > cum_before // 1000
      |         THEN 1 ELSE 0 END AS straddles
      |  FROM c)
      |SELECT shard, chunk_id, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(sum(straddles) AS BIGINT) AS n_straddling,
      |  min(pos) AS first_pos, max(pos) AS last_pos
      |FROM a GROUP BY shard, chunk_id ORDER BY shard, chunk_id""".stripMargin))

  /** End-to-end RAG indexing composition: overlapping token-window
    * chunking ([[TextOps.chunkRows]]) → per-chunk embedding → cosine
    * top-k retrieval of chunks for a query set — the chunk-level
    * retrieval pipeline a RAG corpus build runs, value-gated whole.
    * The embedding stage is the same md5-hash stand-in as
    * `mm_similarity` (16 md5 bytes as floats — regenerable in SQL, so
    * the END-TO-END composition is oracle-checked; a real deployment
    * swaps in a learned encoder and keeps chunking + retrieval
    * unchanged). Retrieval here is the brute-force verifiable baseline;
    * the scale path is the same [[Similarity]]/[[graft.ops.Pq]] IVF-PQ
    * machinery the `sim_*` queries gate — chunk features are just
    * another embedding corpus to it. chunk_id = doc_id*1000 + chunk_idx
    * (collision-free below 1000 chunks/doc ≈ 24k tokens; the synthetic
    * corpus tops out far lower). */
  val pipelineRag: QueryDef = QueryDef(
    "pipeline_rag",
    (s, d) => {
      val chunks = TextOps.chunkRows(Tables.documents(s, d), "doc_id", "text",
          window = 32, stride = 24)
        .select((col("id") * 1000 + col("chunk_idx")).as("chunk_id"),
          col("chunk"))
      val hex = md5(col("chunk"))
      // the feature table is consumed twice (query side + candidate
      // side); persist it so the chunk+md5 pass runs once — in a real
      // deployment this materialization IS the RAG index (measured
      // 5.9s -> 1.4s at sf0.1)
      val feats = graft.ops.Materialize.invariant(
        chunks.select(col("chunk_id"),
          array((0 until 16).map(b =>
            conv(substring(hex, 2 * b + 1, 2), 16, 10).cast("float")): _*)
            .as("feature")))
      // query set = the FIRST chunk of every 50th document
      // (chunk_id % 50000 == 0 ⟺ doc_id % 50 == 0 ∧ chunk_idx == 0):
      // anchored to DOCUMENT ids, not chunk count, so the retrieval
      // workload is nq-fixed as the corpus grows — the same discipline
      // the sim_* gates use (a query set growing with the corpus makes
      // any engine measure nq×N = super-linear by construction; the
      // first registration's chunk-count-anchored % 97 selection
      // measured slope 1.74 in the 4× scale probe for exactly that
      // reason)
      Similarity.bruteForceTopK(feats, "chunk_id", "feature",
          col("chunk_id") % 50000 === 0, k = 5)
        .orderBy("query_id", "rk")
    },
    Some(s"""WITH t AS (SELECT doc_id, string_split(${PipelineQueries.normalizeSql}, ' ') AS w
      |  FROM documents),
      |st AS (SELECT doc_id, w, unnest(range(0, len(w), 24)) AS st FROM t),
      |ch AS (SELECT doc_id * 1000 + st // 24 AS chunk_id,
      |        array_to_string(w[st + 1:least(st + 32, len(w))], ' ') AS chunk
      |      FROM st),
      |f AS (SELECT chunk_id,
      |    [CAST(CAST(concat('0x', substr(md5(chunk), 2 * b + 1, 2)) AS BIGINT) AS DOUBLE)
      |     for b in range(0, 16)] AS v
      |  FROM ch),
      |q AS (SELECT chunk_id AS query_id, v AS qv FROM f WHERE chunk_id % 50000 = 0),
      |c AS (SELECT chunk_id AS cand_id, v AS cv FROM f),
      |scored AS (
      |  SELECT query_id, cand_id,
      |    list_dot_product(qv, cv) /
      |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
      |  FROM c, q WHERE query_id <> cand_id),
      |ranked AS (
      |  SELECT query_id, cand_id, cos,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rk
      |  FROM scored)
      |SELECT query_id, rk, cand_id, round(cos, 4) AS cos_r
      |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin))

  /** KMV sketch MERGE: the distinct-part estimate of two lineitem shards'
    * union, built from two independently-computed bottom-256 sketches
    * (the associative-merge property that lets per-shard/per-day sketches
    * answer corpus-wide cardinality without re-touching data). The exact
    * union distinct rides along for accuracy eyeballing; the oracle
    * recomputes hash, both bottom-k selections, the merge, and the
    * estimate arithmetic bit-identically. */
  val sketchKmvUnion: QueryDef = QueryDef(
    "sketch_kmv_union",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      Sketches.kmvUnionEstimate(
          li.filter(col("l_orderkey") % 2 === 0), "l_partkey",
          li.filter(col("l_orderkey") % 2 === 1), "l_partkey", k = 256)
        .crossJoin(li.agg(countDistinct(col("l_partkey")).as("exact_distinct")))
    },
    Some("""WITH ha AS (
      |  SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM lineitem WHERE l_orderkey % 2 = 0),
      |ba AS (SELECT h FROM ha ORDER BY h ASC LIMIT 256),
      |hb AS (
      |  SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM lineitem WHERE l_orderkey % 2 = 1),
      |bb AS (SELECT h FROM hb ORDER BY h ASC LIMIT 256),
      |u AS (SELECT DISTINCT h FROM (SELECT h FROM ba UNION ALL SELECT h FROM bb)),
      |bu AS (SELECT h FROM u ORDER BY h ASC LIMIT 256),
      |st AS (SELECT count(*) AS n_kept, max(h) AS kth FROM bu),
      |e AS (SELECT count(DISTINCT l_partkey) AS exact_distinct FROM lineitem)
      |SELECT n_kept, kth,
      |  round(CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
      |    ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) / CAST(kth AS DOUBLE)
      |    END, 2) AS est_distinct,
      |  exact_distinct
      |FROM st, e""".stripMargin))

  /** KMV set ALGEBRA ([[graft.ops.Sketches.kmvIntersectEstimate]] —
    * Beyer et al. 2007): Jaccard + intersection estimates of two
    * partially-overlapping lineitem shards (part keys %3 ∈ {0,1} vs
    * {1,2} — true Jaccard ≈ 1/3, so the estimator is actually
    * discriminating) from their independent bottom-256 sketches; the exact
    * intersection rides along for accuracy eyeballing. Jaccard is
    * emitted in integer basis points (floor division — no double
    * rounding tie), and the oracle recomputes hashes, both bottom-k
    * sets, the merged sample, the membership counts and both
    * estimators. */
  val sketchKmvIntersect: QueryDef = QueryDef(
    "sketch_kmv_intersect",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val a = li.filter(col("l_partkey") % 3 <= 1)
      val b = li.filter(col("l_partkey") % 3 >= 1)
      Sketches.kmvIntersectEstimate(a, "l_partkey", b, "l_partkey", k = 256)
        .crossJoin(a.select(col("l_partkey")).intersect(b.select(col("l_partkey")))
          .agg(count(lit(1)).as("exact_intersect")))
    },
    Some("""WITH ha AS (
      |  SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM lineitem WHERE l_partkey % 3 <= 1),
      |ba AS (SELECT h FROM ha ORDER BY h ASC LIMIT 256),
      |hb AS (
      |  SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM lineitem WHERE l_partkey % 3 >= 1),
      |bb AS (SELECT h FROM hb ORDER BY h ASC LIMIT 256),
      |u AS (SELECT DISTINCT h FROM (SELECT h FROM ba UNION ALL SELECT h FROM bb)),
      |bu AS (SELECT h FROM u ORDER BY h ASC LIMIT 256),
      |st AS (
      |  SELECT count(*) AS n_kept, max(bu.h) AS kth,
      |    CAST(sum(CASE WHEN ba.h IS NOT NULL AND bb.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both
      |  FROM bu LEFT JOIN ba ON bu.h = ba.h LEFT JOIN bb ON bu.h = bb.h),
      |e AS (
      |  SELECT count(*) AS exact_intersect FROM (
      |    SELECT DISTINCT l_partkey FROM lineitem WHERE l_partkey % 3 <= 1
      |    INTERSECT
      |    SELECT DISTINCT l_partkey FROM lineitem WHERE l_partkey % 3 >= 1))
      |SELECT n_kept, kth, n_both,
      |  round(CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
      |    ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) / CAST(kth AS DOUBLE)
      |    END, 2) AS est_union,
      |  (n_both * 10000) // n_kept AS jaccard_bp,
      |  round((CAST(n_both AS DOUBLE) / CAST(n_kept AS DOUBLE)) *
      |    (CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
      |     ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) / CAST(kth AS DOUBLE)
      |     END), 2) AS est_intersect_r,
      |  exact_intersect
      |FROM st, e""".stripMargin))

  /** Exponential TIME-DECAY weighting (the recency prior of freshness-
    * aware mixing/monitoring): each event's weight halves per hour of
    * age and zeroes past a 20-hour horizon — weight = 2^(20 − age_h),
    * EXACT integer arithmetic (a power-of-two shift, not a transcendental
    * decay whose `exp()` last-ulp differs across engines), value mass in
    * exact DECIMAL × integer weight with the one double cast at the
    * boundary. The anchor (max event time) is a driver-side scalar (the
    * [[sketchCmTopk]] precedent), so the weight is a row-local expression
    * fused with the scan — no whole-frame window (which would plan a
    * single-partition exchange), no broadcast-agg crossJoin (which
    * re-expands the subtree into extra corpus scans — the
    * `mix_temperature` lesson). */
  val curateDecayCounts: QueryDef = QueryDef(
    "curate_decay_counts",
    (s, d) => {
      val ev = Tables.events(s, d)
      val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      ev.withColumn("age_h", expr(s"(${maxUs}L - unix_micros(ts)) div 3600000000"))
        .groupBy(col("event_type"))
        .agg(
          sum(expr("CASE WHEN age_h <= 20 THEN shiftleft(1L, cast(20 - age_h AS int)) ELSE 0L END"))
            .as("decayed_weight"),
          sum(expr("CASE WHEN age_h <= 20 THEN cast(value AS decimal(18,4)) * shiftleft(1L, cast(20 - age_h AS int)) ELSE cast(0 AS decimal(18,4)) END"))
            .cast("double").as("decayed_value"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")
    },
    Some("""WITH b AS (SELECT max(epoch_us(ts)) AS mx FROM events),
      |w AS (SELECT event_type, value,
      |    (mx - epoch_us(ts)) // 3600000000 AS age_h FROM events, b)
      |SELECT event_type,
      |  CAST(sum(CASE WHEN age_h <= 20
      |    THEN (CAST(1 AS BIGINT) << CAST(20 - age_h AS INT)) ELSE 0 END) AS BIGINT)
      |    AS decayed_weight,
      |  CAST(sum(CASE WHEN age_h <= 20
      |    THEN CAST(value AS DECIMAL(18,4)) * (CAST(1 AS BIGINT) << CAST(20 - age_h AS INT))
      |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS decayed_value,
      |  count(*) AS n_events
      |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Lexical diversity per document: Simpson diversity index
    * 1 − Σc(c−1)/(W(W−1)) (the probability two random word draws differ)
    * and type-token ratio — the two standard repetitiveness gates a
    * quality pipeline thresholds on. All-integer interior (pair counts),
    * two identical IEEE divisions at the boundary, nullif-guarded so
    * degenerate one-word docs gate data-independently. One scan →
    * map-combined (doc, word) counts → per-doc fold. */
  val textDiversity: QueryDef = QueryDef(
    "text_diversity",
    (s, d) => {
      val c = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      c.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_words"),
          count(lit(1)).as("n_distinct"),
          sum(col("c") * (col("c") - 1)).as("rep_pairs"))
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          round(lit(1.0) - col("rep_pairs").cast("double") /
            nullif(col("n_words") * (col("n_words") - 1), lit(0L))
              .cast("double"), 4).as("simpson"),
          round(col("n_distinct").cast("double") /
            nullif(col("n_words"), lit(0L)).cast("double"), 4).as("ttr"))
        .orderBy("doc_id")
    },
    Some(s"""WITH w AS (
      |  SELECT doc_id, w
      |  FROM (SELECT doc_id, unnest(string_split($normalizeSql, ' ')) AS w
      |        FROM documents)
      |  WHERE length(w) > 0),
      |c AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
      |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
      |        count(*) AS n_distinct,
      |        CAST(sum(c * (c - 1)) AS BIGINT) AS rep_pairs
      |      FROM c GROUP BY doc_id)
      |SELECT doc_id, n_words, n_distinct,
      |  round(1.0 - CAST(rep_pairs AS DOUBLE) /
      |        CAST(nullif(n_words * (n_words - 1), 0) AS DOUBLE), 4) AS simpson,
      |  round(CAST(n_distinct AS DOUBLE) /
      |        CAST(nullif(n_words, 0) AS DOUBLE), 4) AS ttr
      |FROM a ORDER BY doc_id""".stripMargin))

  /** Flesch-style readability score per document from fully deterministic
    * proxies: syllables ≈ vowel groups ([aeiou]+ runs — the classic
    * heuristic), sentences ≈ ⌈words/15⌉ (this synthetic corpus carries no
    * sentence punctuation, so a fixed-width proxy stands in; on punctuated
    * corpora swap in a [.!?]+ count). All counts are integers computed
    * row-locally in one scan; the score is one identical IEEE expression,
    * nullif-guarded on empty docs. */
  val textReadability: QueryDef = QueryDef(
    "text_readability",
    (s, d) => {
      val D = (c: org.apache.spark.sql.Column) => c.cast("double")
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.wordCount(col("text")).cast("long").as("n_words"),
          size(regexp_extract_all(lower(col("text")), lit("[aeiou]+"), lit(0)))
            .cast("long").as("n_syllables"))
        .withColumn("n_sentences",
          greatest(expr("(n_words + 14) div 15"), lit(1L)))
        .select(col("doc_id"), col("n_words"), col("n_syllables"),
          col("n_sentences"),
          round(lit(206.835)
            - lit(1.015) * D(col("n_words")) / D(col("n_sentences"))
            - lit(84.6) * D(col("n_syllables")) /
              D(nullif(col("n_words"), lit(0L))), 4).as("flesch"))
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN length($normalizeSql) = 0 THEN 0
      |         ELSE len(string_split($normalizeSql, ' ')) END AS BIGINT) AS n_words,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS n_syllables
      |  FROM documents),
      |s AS (SELECT doc_id, n_words, n_syllables,
      |        greatest((n_words + 14) // 15, 1) AS n_sentences FROM t)
      |SELECT doc_id, n_words, n_syllables, n_sentences,
      |  round(206.835
      |    - 1.015 * CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)
      |    - 84.6 * CAST(n_syllables AS DOUBLE) /
      |      CAST(nullif(n_words, 0) AS DOUBLE), 4) AS flesch
      |FROM s ORDER BY doc_id""".stripMargin))

  /** Zipf-law exponent of the corpus vocabulary: OLS slope of
    * ln(freq) ~ ln(rank) — the standard naturalness diagnostic for a
    * text corpus (natural language ≈ −1; templated/synthetic text
    * deviates hard). Determinism recipe: each log coordinate is snapped
    * to integer micro-units immediately (ln is not IEEE
    * correctly-rounded, but engines agree far beyond the 1e-6 snap at
    * these magnitudes — verified at all 3 SFs), every OLS moment then
    * accumulates as an exact integer in DECIMAL(38,0) (HUGEINT on the
    * oracle side) — micro-log coordinates are ~3e7, so Σx·y alone passes
    * Int64 near 1e4 vocab-years of web text and the n·Σxy − Σx·Σy
    * numerator needs ~n²·1e15: decimal keeps the interior exact to
    * n_vocab ≲ 3e11 — one IEEE division at the boundary.
    * Scale shape: the corpus collapses to map-combined vocabulary counts
    * in one scan; the ranking window runs over the VOCAB-sized frame
    * (bounded by language, not data), never the corpus. */
  val textZipfSlope: QueryDef = QueryDef(
    "text_zipf_slope",
    (s, d) => {
      val freq = Tables.documents(s, d)
        .select(explode(TextOps.words(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      val ranked = freq.withColumn("r",
        row_number().over(Window.orderBy(col("f").desc, col("w").asc))
          .cast("long"))
      ranked
        .select(
          round(log(col("r").cast("double")) * 1000000).cast("long").as("x"),
          round(log(col("f").cast("double")) * 1000000).cast("long").as("y"))
        .agg(count(lit(1)).as("n_vocab"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("y").cast("decimal(38,0)")).as("sy"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
        .select(col("n_vocab"),
          round((col("n_vocab").cast("decimal(19,0)") * col("sxy")
              - col("sx") * col("sy")).cast("double") /
            nullif(col("n_vocab").cast("decimal(19,0)") * col("sxx")
              - col("sx") * col("sx"),
              lit(0L)).cast("double"), 4).as("zipf_slope"))
    },
    Some(s"""WITH w AS (
      |  SELECT w
      |  FROM (SELECT unnest(string_split($normalizeSql, ' ')) AS w FROM documents)
      |  WHERE length(w) > 0),
      |f AS (SELECT w, count(*) AS f FROM w GROUP BY w),
      |r AS (SELECT f, row_number() OVER (ORDER BY f DESC, w ASC) AS r FROM f),
      |m AS (SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x,
      |             CAST(round(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS y
      |      FROM r),
      |a AS (SELECT count(*) AS n_vocab,
      |        sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |        sum(CAST(x AS HUGEINT) * y) AS sxy,
      |        sum(CAST(x AS HUGEINT) * x) AS sxx
      |      FROM m)
      |SELECT n_vocab,
      |  round(CAST(CAST(n_vocab AS HUGEINT) * sxy - sx * sy AS DOUBLE) /
      |        CAST(nullif(CAST(n_vocab AS HUGEINT) * sxx - sx * sx, 0) AS DOUBLE),
      |        4) AS zipf_slope
      |FROM a""".stripMargin))

  /** END-TO-END benchmark decontamination: where [[textContamination]]
    * reports overlap counts, this pipeline acts on them — documents
    * sharing any word 5-gram with the probe set (benchmark-prompt
    * stand-ins) are STRUCK from the corpus, and the per-source survival
    * accounting (docs and tokens kept/dropped) is what a training-run
    * datasheet records. Scale shape: probe shingles reduce to 8-byte
    * hashes and broadcast (benchmark suites are MBs against a 100 TB
    * corpus); the contaminated-id set — output-bounded, probe-driven —
    * broadcasts back for the flagging join, so the corpus never
    * shuffles: two broadcast probes fused into its one scan, then a
    * 20-group map-combined aggregate. */
  val pipelineDecontaminate: QueryDef = QueryDef(
    "pipeline_decontaminate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val probes = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), substring(col("text"), 1, 200).as("text"))
      val dirty = TextOps.contaminationCounts(docs, "doc_id", "text",
          probes, "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"), lit(true).as("is_dirty"))
      docs.join(broadcast(dirty), Seq("doc_id"), "left")
        .select(col("source"),
          coalesce(col("is_dirty"), lit(false)).as("is_dirty"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .groupBy(col("source"))
        .agg(
          sum(when(!col("is_dirty"), 1L).otherwise(0L)).as("n_docs_kept"),
          sum(when(col("is_dirty"), 1L).otherwise(0L)).as("n_docs_dropped"),
          sum(when(!col("is_dirty"), col("n_tokens")).otherwise(0L))
            .as("tokens_kept"))
        .orderBy("source")
    },
    Some {
      val shingles =
        "list_distinct([array_to_string(w[i:i+4], ' ') for i in range(1, greatest(len(w) - 3, 1))])"
      s"""WITH probes AS (
        |  SELECT substr(text, 1, 200) AS text FROM documents WHERE doc_id % 50 = 0),
        |pw AS (SELECT string_split($normalizeSql, ' ') AS w FROM probes),
        |psh AS (SELECT DISTINCT unnest($shingles) AS s FROM pw),
        |cw AS (SELECT doc_id, string_split($normalizeSql, ' ') AS w FROM documents),
        |csh AS (SELECT DISTINCT doc_id, unnest($shingles) AS s FROM cw),
        |dirty AS (SELECT DISTINCT doc_id FROM csh JOIN psh USING (s)),
        |t AS (
        |  SELECT d.source, (dirty.doc_id IS NOT NULL) AS is_dirty,
        |    CAST(len(regexp_extract_all(d.text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_tokens
        |  FROM documents d LEFT JOIN dirty ON d.doc_id = dirty.doc_id)
        |SELECT source,
        |  CAST(sum(CASE WHEN NOT is_dirty THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
        |  CAST(sum(CASE WHEN is_dirty THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_dropped,
        |  CAST(sum(CASE WHEN NOT is_dirty THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
        |FROM t GROUP BY source ORDER BY source""".stripMargin
    })

  /** Per-document keyword extraction: top-3 terms by tf·idf with the
    * log-free ratio idf N/df (the text_bm25 cross-engine decision — ln
    * ulp parity is not guaranteed and the ratio preserves per-document
    * ordering). The score's interior is the exact integer product
    * tf·N; one IEEE division by df at the boundary; ties break on the
    * term string. Scale shape: map-combined (doc, term) counts, the
    * df table broadcast back, and the per-doc top-3 triggers Spark's
    * WindowGroupLimit rewrite — a 3-element heap per partition before
    * the shuffle, so the corpus never fully sorts. */
  val textKeywords: QueryDef = QueryDef(
    "text_keywords",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val w = docs
        .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
      val tf = w.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val df = w.select(col("doc_id"), col("w")).distinct()
        .groupBy(col("w")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val win = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("w").asc)
      tf.join(broadcast(df), "w").crossJoin(broadcast(n))
        .withColumn("score",
          (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
        .withColumn("rk", row_number().over(win).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("w").as("keyword"),
          round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rk")
    },
    Some(s"""WITH w AS (
      |  SELECT doc_id, w
      |  FROM (SELECT doc_id, unnest(string_split($normalizeSql, ' ')) AS w
      |        FROM documents)
      |  WHERE length(w) > 0),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM w GROUP BY doc_id, w),
      |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM w GROUP BY w),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, w,
      |    CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score
      |  FROM tf JOIN df USING (w) CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, w, score,
      |    row_number() OVER (PARTITION BY doc_id
      |                       ORDER BY score DESC, w ASC) AS rk
      |  FROM scored)
      |SELECT doc_id, rk, w AS keyword, round(score, 4) AS score
      |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin))

  /** Windowed co-occurrence PMI (the distributional statistic under
    * word2vec/GloVe-era embedding prep and collocation mining): word
    * pairs within a ±2 skip-gram radius, scored by pointwise mutual
    * information in its ratio form c_ab·N²/(M·c_a·c_b). The ratio is an
    * ORDER-PINNED double chain (each count < 2⁵³ converts exactly; every
    * product/division is IEEE correctly-rounded, written in the identical
    * left-associated order in both engines), then micro-snapped — the
    * integer form c_ab·N² passes Int64 near N ≈ 2e9 tokens and even
    * HUGEINT near web scale, so the double chain is the form that
    * survives 100 TB, and the top collocations still replay exactly. Pairs generate ROW-LOCALLY from
    * the token array (no corpus self-join — the pair stream is linear in
    * corpus size); unigram and pair totals are map-combined aggregates;
    * the vocab-sized count tables broadcast back. Top-20 pairs with
    * support ≥ 5. */
  val textPmiPairs: QueryDef = QueryDef(
    "text_pmi_pairs",
    (s, d) => {
      // tokenize ONCE into an attribute: the skip-gram lambdas below are
      // interpreted HOFs, and an inlined words(text) expression would
      // re-run the normalize regexes per ELEMENT access — O(len²) regex
      // work per row (measured 193 s at sf0.1 vs ~2 s for this shape)
      val docs = Tables.documents(s, d)
      val withW = docs.select(TextOps.words(col("text")).as("w"))
      val w = col("w")
      def skipPairs(off: Int) = {
        val idx = sequence(lit(1), size(w) - lit(off))
        when(size(w) < off + 1, array().cast("array<struct<a:string,b:string>>"))
          .otherwise(transform(idx, i => struct(
            least(element_at(w, i), element_at(w, i + lit(off))).as("a"),
            greatest(element_at(w, i), element_at(w, i + lit(off))).as("b"))))
      }
      val pairs = withW
        .select(explode(concat(skipPairs(1), skipPairs(2))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .filter(length(col("a")) > 0 && length(col("b")) > 0)
      val uni = withW
        .select(explode(w).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
      val totals = uni.agg(sum(col("c")).as("n"))
      val m = pairs.agg(count(lit(1)).as("m"))
      val cab = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
      cab
        .join(broadcast(uni.select(col("word").as("a"), col("c").as("ca"))), "a")
        .join(broadcast(uni.select(col("word").as("b"), col("c").as("cb"))), "b")
        .crossJoin(broadcast(totals)).crossJoin(broadcast(m))
        .filter(col("cab") >= 5)
        .select(col("a"), col("b"), col("cab"),
          round(lit(1000000.0) * col("cab").cast("double")
            * col("n").cast("double") * col("n").cast("double")
            / (col("m").cast("double") * col("ca").cast("double")
              * col("cb").cast("double"))).cast("long")
            .as("pmi_micro"))
        .orderBy(col("pmi_micro").desc, col("a").asc, col("b").asc)
        .limit(20)
    },
    Some(s"""WITH t AS (
      |  SELECT string_split($normalizeSql, ' ') AS w FROM documents),
      |pr AS (
      |  SELECT unnest([{'a': least(w[i], w[i+1]), 'b': greatest(w[i], w[i+1])}
      |                 for i in range(1, len(w))]) AS p
      |  FROM t
      |  UNION ALL
      |  SELECT unnest([{'a': least(w[i], w[i+2]), 'b': greatest(w[i], w[i+2])}
      |                 for i in range(1, len(w) - 1)]) AS p
      |  FROM t),
      |pp AS (SELECT p.a AS a, p.b AS b FROM pr
      |       WHERE length(p.a) > 0 AND length(p.b) > 0),
      |uni AS (
      |  SELECT w AS word, count(*) AS c
      |  FROM (SELECT unnest(string_split($normalizeSql, ' ')) AS w FROM documents)
      |  WHERE length(w) > 0 GROUP BY w),
      |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
      |mm AS (SELECT count(*) AS m FROM pp),
      |cab AS (SELECT a, b, count(*) AS cab FROM pp GROUP BY a, b)
      |SELECT a, b, cab,
      |  CAST(round(1000000.0 * CAST(cab AS DOUBLE)
      |    * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |    / (CAST(m AS DOUBLE) * CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)))
      |    AS BIGINT) AS pmi_micro
      |FROM cab JOIN uni ua ON a = ua.word JOIN uni ub ON b = ub.word
      |CROSS JOIN nn CROSS JOIN mm
      |WHERE cab >= 5
      |ORDER BY pmi_micro DESC, a ASC, b ASC LIMIT 20""".stripMargin))

  /** The published GOPHER quality filter (Rae et al. 2021, Table A1 —
    * [[graft.ops.TextOps.gopherQualityFlags]]): the five document-level
    * rules a MassiveText-style pipeline applies before training (word
    * count 50..100k, mean word length 3..10, symbol ratio ≤ 0.1, ≥ 80%
    * alphabetic words, ≥ 2 distinct stop words), rolled up per source as
    * a pass census plus per-rule failure counts — the dashboard a
    * curation team reads to see WHICH rule is biting a source. Every
    * threshold compares exact-integer cross-products; one narrow typed
    * pass + one map-combined aggregate. The short-document rule is
    * discriminating on this corpus (docs under 50 words fail), so the
    * gate exercises both branches of every flag. */
  val curateGopherRules: QueryDef = QueryDef(
    "curate_gopher_rules",
    (s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.gopherQualityFlags(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pass_all"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(col("pass_word_count"), 0L).otherwise(1L)).as("n_fail_word_count"),
          sum(when(col("pass_mean_word_len"), 0L).otherwise(1L)).as("n_fail_mean_word_len"),
          sum(when(col("pass_symbol_ratio"), 0L).otherwise(1L)).as("n_fail_symbol_ratio"),
          sum(when(col("pass_alpha_words"), 0L).otherwise(1L)).as("n_fail_alpha_words"),
          sum(when(col("pass_stopwords"), 0L).otherwise(1L)).as("n_fail_stopwords"))
        .orderBy("source")
    },
    Some(s"""WITH base AS (
      |  SELECT doc_id, source, coalesce(text, '') AS raw, $normalizeSql AS norm,
      |    string_split($normalizeSql, ' ') AS w
      |  FROM documents),
      |f AS (
      |  SELECT source,
      |    CASE WHEN len(norm) = 0 THEN 0 ELSE len(w) END AS nw,
      |    CASE WHEN len(norm) = 0 THEN 0 ELSE len(norm) - len(w) + 1 END AS chars,
      |    (length(raw) - length(replace(raw, '...', ''))) // 3
      |      + (length(raw) - length(replace(raw, '#', ''))) AS sym,
      |    len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS alpha,
      |    len(list_filter(['the','and','of','to','in','is','that','for'],
      |        s -> list_contains(w, s))) AS nstop
      |  FROM base),
      |r AS (
      |  SELECT source,
      |    (nw >= 50 AND nw <= 100000) AS r_wc,
      |    (nw > 0 AND 3 * nw <= chars AND chars <= 10 * nw) AS r_mwl,
      |    (10 * sym <= nw) AS r_sym,
      |    (nw > 0 AND 5 * alpha >= 4 * nw) AS r_alpha,
      |    (nstop >= 2) AS r_stop
      |  FROM f)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN r_wc AND r_mwl AND r_sym AND r_alpha AND r_stop
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      |  CAST(sum(CASE WHEN r_wc THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_word_count,
      |  CAST(sum(CASE WHEN r_mwl THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_mean_word_len,
      |  CAST(sum(CASE WHEN r_sym THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_symbol_ratio,
      |  CAST(sum(CASE WHEN r_alpha THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_alpha_words,
      |  CAST(sum(CASE WHEN r_stop THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_stopwords
      |FROM r GROUP BY source ORDER BY source""".stripMargin))

  /** curate_model_filter_trained: the model-based quality filter with
    * weights TRAINED IN-ENGINE ([[TextOps.trainHashedNbWeights]] —
    * hashed-unigram Naive Bayes, exact integer counts, log-free
    * centered-posterior weights), closing the last "model" stub: the
    * md5-synthesized demo vector of `text_quality_model` is replaced by
    * a vector learned from a deterministic labeled split (train = the
    * 75% of docs with doc_id % 4 ≠ 0; label good = lang = 'en').
    * Training is one bounded groupBy(bucket) — ≤ 4096 groups at any
    * corpus size; scoring is the zero-shuffle HashedBagScore path with
    * the trained vector as a plan literal. The oracle replays the WHOLE
    * lifecycle — split, token hashing, per-bucket class counts, the
    * smoothed-posterior weight formula, and every document's summed
    * score — so a green row pins training, not just inference. */
  val curateModelFilterTrained: QueryDef = QueryDef(
    "curate_model_filter_trained",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val weights = TextOps.trainHashedNbWeights(
        docs.filter(col("doc_id") % 4 =!= 0), "text",
        col("lang") === "en", buckets = 4096)
      TextOps.hashedQualityScore(docs, "doc_id", "text", weights)
        .orderBy("doc_id")
    },
    Some {
      def md5u(e: String) =
        s"""(CAST(concat('0x', substr(md5($e), 1, 8)) AS BIGINT)::HUGEINT * 4294967296::HUGEINT
           | + CAST(concat('0x', substr(md5($e), 9, 8)) AS BIGINT)::HUGEINT)""".stripMargin
      s"""WITH toks AS (
        |  SELECT doc_id, lang, w
        |  FROM (SELECT doc_id, lang,
        |          unnest(string_split($normalizeSql, ' ')) AS w FROM documents)
        |  WHERE length(w) > 0),
        |bkt AS (
        |  SELECT doc_id, lang, CAST(${md5u("w")} % 4096 AS BIGINT) AS b FROM toks),
        |cnt AS (
        |  SELECT b,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS c0
        |  FROM bkt WHERE doc_id % 4 <> 0 GROUP BY b),
        |wt AS (
        |  SELECT b, (c1 + 1) * 1000000 // (c1 + c0 + 2) - 500000 AS wt FROM cnt),
        |scored AS (
        |  SELECT bkt.doc_id, CAST(sum(coalesce(wt.wt, 0)) AS BIGINT) AS score
        |  FROM bkt LEFT JOIN wt ON bkt.b = wt.b GROUP BY bkt.doc_id)
        |SELECT d.doc_id, coalesce(s.score, 0) AS score,
        |  coalesce(s.score, 0) > 0 AS keep
        |FROM documents d LEFT JOIN scored s USING (doc_id)
        |ORDER BY doc_id""".stripMargin
    })

  val all: Seq[QueryDef] = Seq(packChunks, textContamination, pipelinePretrain,
    curateGopherRules, curateModelFilterTrained,
    textDiversity, textReadability, textZipfSlope,
    pipelineDecontaminate, textKeywords, textPmiPairs,
    curateDecayCounts,
    sketchKmvUnion, sketchKmvIntersect,
    sketchKmvDistinct, sketchHllDistinct, sketchCmTopk, curateSnapshotDiff,
    qBloomJoin, mergeScd2, qScd2Lookup,
    qSaltedAgg, qSkewAdaptive,
    qSkewAdaptiveList, qWindowRangeFrame, pipelineCurate,
    pipelineMultimodal, pipelineEpochPack, pipelineRag)
}
