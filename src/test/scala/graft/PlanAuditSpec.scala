package graft

import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan regression gate: SURVEY §9's audit table, executable.
  * These assertions pin the SCALE properties of representative queries —
  * which joins broadcast, that ranking stays out of windows, that scans
  * prune to the referenced columns — so a plan regression fails the
  * suite instead of silently shipping a shuffle. */
class PlanAuditSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val q = SparkEntry.allQueries.find(_.name == name).get
    q.build(spark, sf).queryExecution.explainString(FormattedMode)
  }

  /** Count distinct plan NODES (formatted mode prints each node in the
    * tree and again in the details section — raw substring counts double). */
  private def nodes(hay: String, op: String): Int =
    s"\\((\\d+)\\) $op(?![A-Za-z])".r.findAllMatchIn(hay).map(_.group(1)).toSet.size

  test("q_multi_join: all four dimension joins broadcast; no sort-merge join") {
    val p = plan("q_multi_join")
    assert(nodes(p, "BroadcastHashJoin") == 4, p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("similarity top-k plans have no ranking Window (bounded-heap aggregate instead)") {
    for (q <- Seq("sim_topk_brute", "sim_ann_lsh")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q still ranks through a window")
      assert(p.contains("topk_pairs"), s"$q lost the heap aggregate")
    }
    // IVF keeps ONE window — nProbe cell selection on the tiny query
    // side; candidate ranking must still be the heap aggregate
    val ivf = plan("sim_ivf")
    assert(nodes(ivf, "Window") <= 1, "sim_ivf grew a second window")
    assert(ivf.contains("topk_pairs"), "sim_ivf lost the heap aggregate")
  }

  test("contamination and bloom join keep the corpus side shuffle-free (broadcast probe)") {
    for (q <- Seq("text_contamination", "q_bloom_join")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: probe side not broadcast")
      assert(!p.contains("SortMergeJoin"), s"$q: corpus side shuffled into a join")
    }
  }

  test("bloom probe filter is a native expression, not a UDF") {
    val p = plan("q_bloom_join")
    assert(!p.contains("UDF"), "bloom probe went through a Scala UDF")
    assert(p.contains("bloom_might_contain_long"), "bloom probe predicate missing")
  }

  test("null-safe join still plans as a hash join") {
    val p = plan("q_null_safe_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("narrow text scans prune to the referenced columns") {
    val p = plan("text_tokens")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"scan reads unreferenced columns: $readSchema")
  }

  test("text_chunk_overlap: narrow chunk pass — only the output sort exchanges") {
    val p = plan("text_chunk_overlap")
    assert(nodes(p, "Exchange") <= 1, "chunker grew a shuffle beyond the final sort")
    assert(!p.contains("Generate"), "chunker exploded rows declaratively instead of the narrow pass")
  }

  test("text_dup_grams: join-back shape — no per-gram doc-list aggregation, no cartesian") {
    val p = plan("text_dup_grams")
    assert(!p.contains("collect_list"),
      "dup-gram stats must not gather doc ids per gram (skew killer)")
    assert(!p.contains("CartesianProduct"))
  }

  test("mix_temperature: exactly one (column-pruned) corpus scan") {
    val p = plan("mix_temperature")
    assert(nodes(p, "Scan parquet") == 1,
      "normalization re-expanded the counts subtree into extra corpus scans")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("source") && !readSchema.contains("text"),
      s"scan reads unreferenced columns: $readSchema")
  }

  test("pipeline_rag: query chunks broadcast into retrieval; no ranking Window") {
    val p = plan("pipeline_rag")
    assert(nodes(p, "BroadcastExchange") >= 1, "query side no longer broadcasts")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("Window"), "top-k fell back to a ranking window")
  }

  test("q1_agg pushes its shipdate filter into the parquet scan") {
    val p = plan("q1_agg")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("l_shipdate"), s"no pushed filter: $pushed")
  }

  test("ingest_orc: the quantity filter survives the format switch into the ORC scan") {
    val p = plan("ingest_orc")
    assert(p.contains("Scan orc"), "lineitem projection no longer read back as ORC")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("l_quantity"), s"ORC scan lost the pushed filter: $pushed")
  }

  test("ingest_jsonl: schema-on-read JSON scan (explicit nested schema, no inference pass)") {
    val p = plan("ingest_jsonl")
    assert(p.contains("Scan json"), "documents no longer read back as JSON")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("meta") && readSchema.contains("struct"),
      s"JSON read lost the declared nested schema: $readSchema")
  }

  test("ingest_partitioned: the priority filter prunes at the DIRECTORY level (PartitionFilters, not a data filter)") {
    val p = plan("ingest_partitioned")
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("o_orderpriority"),
      s"partition filter did not reach the directory level: $pf")
    assert(nodes(p, "Scan parquet") == 1)
  }

  test("dedup_containment: candidate-bound plan — no corpus-wide array gather, no cartesian") {
    val p = plan("dedup_containment")
    assert(!p.contains("collect_list"),
      "containment must not materialize per-doc shingle arrays corpus-wide")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_embedding: e2lsh-blocked equi-join — no FORCED broadcast of the corpus side, no nested loop") {
    val q = SparkEntry.allQueries.find(_.name == "dedup_embedding").get
    val df = q.build(spark, "/root/testdata/sf0.001")
    // the old form was join(broadcast(side), a.id < b.id): a broadcast
    // HINT (forced regardless of size — OOM when side ∝ corpus) feeding a
    // BroadcastNestedLoopJoin (all-pairs compare). The replacement must be
    // a plain equi-join on the LSH cell key: the planner may still CHOOSE
    // broadcast at tiny SFs from stats — that decision reverses itself at
    // scale, a hint does not.
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "near-dup side carries a forced broadcast hint")
    val p = df.queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("blk"), "pair join lost the LSH cell equi-key")
  }

  test("mix_token_budget fills run per (source, shard) — no task ever sorts a whole source") {
    for (name <- Seq("mix_token_budget", "mix_token_budget_temperature")) {
      val p = plan(name)
      // the corpus-side prefix window (the one ordered by the md5 sort
      // key hs) must also be keyed by the 2-hex shard prefix — a window
      // partitioned by source alone is one serial full-source sort task
      // per source, and pretraining mixes have only 10-50 sources
      val corpusWindows =
        "windowspecdefinition\\([^)]*hs#[^)]*".r.findAllIn(p).toList
      assert(corpusWindows.nonEmpty, s"$name: lost the in-shard prefix window")
      corpusWindows.foreach { w =>
        assert(w.contains("shard#"), s"$name: corpus window not shard-keyed: $w")
      }
    }
  }

  test("link_entities: candidate-bound linkage — blocked equi-join on the name-prefix key, no cartesian, no ranking window") {
    val p = plan("link_entities")
    // blocking must stay an equi-join on the prefix key (a cartesian or
    // broadcast-nested-loop means the block key degenerated)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the arg-min is the map-combined min_by aggregate, not a ranking window
    assert(!p.contains("Window"), "best-match arg-min regressed to a ranking window")
    assert(p.contains("min_by"), "expected the min_by aggregate in the plan")
  }

  test("maintenance_incremental_agg: merge scans only the delta + the tiny MV — no join, no second corpus scan") {
    val p = plan("maintenance_incremental_agg")
    assert(nodes(p, "Scan parquet") == 2,
      s"incremental merge grew extra scans:\n${p.linesIterator.take(30).mkString("\n")}")
    assert(!p.contains("Join"), "partial-aggregate merge turned into a join")
  }

  test("sketch_hll_distinct and q_percentile_approx: sketch-vs-exact audits join by broadcast, never shuffle the corpus into a sort-merge join") {
    for (q <- Seq("sketch_hll_distinct", "q_percentile_approx")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: audit join no longer broadcasts")
      assert(!p.contains("SortMergeJoin"), s"$q: corpus shuffled into the audit join")
    }
  }

  test("text_repetition computes its metrics without a shuffle (only the output sort exchanges)") {
    val p = plan("text_repetition")
    assert(nodes(p, "Exchange") <= 1, "repetition metrics grew a shuffle beyond the final sort")
    assert(!p.contains("Generate"), "repetition metrics exploded word rows")
  }

  test("ingest_html_extract: one narrow pass — block lists never explode, only the output sort exchanges") {
    val p = plan("ingest_html_extract")
    assert(nodes(p, "Exchange") <= 1, "html extraction grew a shuffle beyond the final sort")
    assert(!p.contains("Generate"), "extraction exploded block rows instead of row-local list algebra")
    assert(!p.contains("Join"), "extraction should not join")
  }

  test("text_bigram_lm: both count tables broadcast; corpus never sort-merge-joins") {
    val p = plan("text_bigram_lm")
    assert(nodes(p, "BroadcastHashJoin") == 2, "expected unigram + bigram broadcast joins")
    assert(!p.contains("SortMergeJoin"))
  }

  test("text_hash_embed: no join — explode fused with the scan, one aggregate") {
    val p = plan("text_hash_embed")
    assert(!p.contains("Join"))
    assert(nodes(p, "Exchange") <= 2, "hash embed grew exchanges beyond group-by + sort")
  }

  test("ingest_url_canonicalize: row-local normalization, only group-by + sort exchange") {
    val p = plan("ingest_url_canonicalize")
    assert(!p.contains("Join"))
    assert(!p.contains("Generate"), "canonicalization exploded params corpus-wide")
  }

  test("dedup_sorted_neighborhood: range-partitioned rank, no single-partition window, no cartesian") {
    val p = plan("dedup_sorted_neighborhood")
    assert(p.contains("rangepartitioning"), "denseIndex rank lost its range exchange")
    assert(!p.contains("SinglePartition"), "rank collapsed to a single partition")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("the full-outer merge is the only sort-merge join user") {
    val p = plan("merge_table_versions")
    assert(nodes(p, "SortMergeJoin") == 2) // 3-way fold = 2 joins
  }

  test("merge_table_versions_bucketed: co-bucketed versions merge with ZERO hash exchanges") {
    val p = plan("merge_table_versions_bucketed")
    assert(p.contains("SortMergeJoin"), "full-outer merge lost its sort-merge join")
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed merge still shuffles:\n${p.linesIterator.take(40).mkString("\n")}")
  }

  test("dedup_incremental_lsh_bucketed: persisted band index joins with zero exchanges on the index side") {
    val p = plan("dedup_incremental_lsh_bucketed")
    // the bucketed files satisfy the probe join's distribution: the scan
    // must report bucketed reading and feed the SortMergeJoin directly
    assert(p.contains("SelectedBucketsCount"), "index scan is not bucketed")
    assert(p.contains("SortMergeJoin"), "probe join lost its shuffle-join pin")
    // exchanges: batch minhash agg (id), batch probe (band_id, band_key),
    // post-join dup agg (doc_id), output sort — the index side adds NONE
    // (the inline-index variant pays one more for the corpus signatures
    // plus the corpus side of the probe)
    assert(nodes(p, "Exchange") <= 4,
      s"index side grew an exchange:\n${p.linesIterator.take(40).mkString("\n")}")
  }

  test("sim_ivf_pq_indexed: probe prunes the persisted codes table at the bucket level, index side exchange-free") {
    val p = plan("sim_ivf_pq_indexed")
    // the probed-cell literal filter must reach the bucketed codes scan
    assert(p.contains("SelectedBucketsCount"), "codes scan is not bucket-pruned")
    // index side joins only against broadcasts — any sort-merge join
    // here would mean the persisted index is shuffling
    assert(!p.contains("SortMergeJoin"), "index side shuffled into a join")
    // exchanges: query-side probe window (query_id), scored pair agg,
    // final top-k agg, output sort — the index side adds NONE
    assert(nodes(p, "Exchange") <= 4,
      s"index side grew an exchange:\n${p.linesIterator.take(40).mkString("\n")}")
  }

  test("mix_domain_cap ranks through WindowGroupLimit (per-partition top-k heap, no full sort)") {
    val p = plan("mix_domain_cap")
    assert(p.contains("WindowGroupLimit"), "rank-limit pushdown missing")
  }

  test("dedup_segments rewrite is one narrow pass (no join; only the output sort exchanges)") {
    val p = plan("dedup_segments")
    assert(!p.contains("Join"), "corpus joined instead of broadcast-set rewrite")
    assert(nodes(p, "Exchange") <= 1, "rewrite pass grew a shuffle beyond the final sort")
  }

  test("text_unigram_lm joins its vocabulary by broadcast") {
    val p = plan("text_unigram_lm")
    assert(!p.contains("SortMergeJoin"), "vocabulary join shuffled the token stream")
    assert(p.contains("BroadcastHashJoin"), "vocabulary not broadcast")
  }

  test("cluster_kmeans: every assignment round is a centroid broadcast, never a corpus shuffle join") {
    val p = plan("cluster_kmeans")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "k-means assignment shuffled the corpus into a join")
    assert(p.contains("BroadcastNestedLoopJoin"), "centroids not broadcast")
  }

  test("cluster_kmeans assignment is exchange-free per round (row-local argmin kernel)") {
    val p = plan("cluster_kmeans")
    assert(p.contains("long_vector_argmin_key"), "argmin kernel missing from plan")
    // the old formulation re-aggregated the packed key per vector, which
    // shuffled the corpus on (id, xm) every iteration
    assert(!p.contains("hashpartitioning(id"),
      "assignment shuffles the corpus on the vector id again")
  }

  test("text_quality_model: row-local bag-score kernel — no join, no shuffle before the sort") {
    val p = plan("text_quality_model")
    assert(p.contains("hashed_bag_score"), "bag-score kernel missing from plan")
    assert(!p.contains("Join"), "hashed weight lookup grew a join against a weight table")
    assert(nodes(p, "Exchange") <= 1, "scoring grew a shuffle beyond the output sort")
  }

  test("sim_pq_adc: codebook/distance-table joins broadcast; corpus never shuffle-joins") {
    val p = plan("sim_pq_adc")
    assert(p.contains("long_vector_argmin_key"), "argmin kernel missing from plan")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "PQ shuffled the corpus into a join (codebooks/distance table must broadcast)")
  }

  test("sim_ivf_pq_residual: coarse training, residuals and per-cell ADC never shuffle-join the corpus") {
    val p = plan("sim_ivf_pq_residual")
    assert(p.contains("long_vector_argmin_key"), "argmin kernel missing from plan")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "residual IVF-PQ shuffled the corpus into a join (centroids/probes/codebooks/ADC must broadcast)")
  }

  test("sim_ivf_pq: probe set, codebooks and distance table broadcast; corpus never shuffle-joins") {
    val p = plan("sim_ivf_pq")
    assert(p.contains("long_vector_argmin_key"), "argmin kernel missing from plan")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "IVF-PQ shuffled the corpus into a join (probes/codebooks/distance table must broadcast)")
    // one window only: nProbe cell selection on the tiny query side
    assert(nodes(p, "Window") <= 1, "IVF-PQ grew a ranking window beyond cell probing")
  }

  test("sim_ivf_pq_rerank: candidate set and query vectors broadcast into the exact pass") {
    val p = plan("sim_ivf_pq_rerank")
    assert(p.contains("long_vector_argmin_key"), "argmin kernel missing from plan")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "re-rank shuffled the corpus into a join (ADC candidates + query vectors must broadcast)")
    assert(p.contains("topk_pairs"), "re-rank lost the bounded-heap top-k")
  }

  test("emb_zscore: per-dim stats join back by broadcast") {
    val p = plan("emb_zscore")
    assert(!p.contains("SortMergeJoin"), "stats join shuffled the corpus")
    assert(p.contains("BroadcastHashJoin"), "stats not broadcast")
  }

  test("sim_ivf_pq_appended: probe keeps bucket pruning over build + appended files") {
    val p = plan("sim_ivf_pq_appended")
    assert(p.contains("SelectedBucketsCount"),
      "appended codes scan lost bucket pruning")
    assert(!p.contains("SortMergeJoin"), "index side shuffled into a join")
    assert(nodes(p, "Exchange") <= 4,
      s"index side grew an exchange:\n${p.linesIterator.take(40).mkString("\n")}")
  }

  test("pipeline_epoch_pack: epoch rank and pack prefix-sum share ONE shard exchange") {
    val p = plan("pipeline_epoch_pack")
    assert(nodes(p, "Window") == 2, "composition lost a window (rank or prefix sum)")
    // one hashpartitioning(shard) reused by BOTH windows + the output
    // sort's range partitioning — a third exchange means the packing
    // stopped riding the epoch shuffle's partitioning
    assert(nodes(p, "Exchange") <= 2,
      s"epoch order and packing no longer share the shard partitioning:\n${p.linesIterator.take(25).mkString("\n")}")
  }

  test("sample_uniform_k: exactly-k sample plans as TakeOrdered (k-heap per partition), never a global sort") {
    val p = plan("sample_uniform_k")
    assert(p.contains("TakeOrderedAndProject"),
      "bottom-k sample lost its TakeOrdered plan")
    assert(nodes(p, "Exchange") == 0,
      s"uniform-k sample grew a shuffle:\n${p.linesIterator.take(20).mkString("\n")}")
  }

  test("mix_upsample: repeated rows never shuffle — factors broadcast in, expansion row-local") {
    val p = plan("mix_upsample")
    assert(p.contains("Generate"), "epoch expansion lost its explode")
    assert(nodes(p, "BroadcastHashJoin") >= 1, "factor table no longer broadcasts")
    assert(!p.contains("SortMergeJoin"),
      "corpus shuffled into the factor join — the factor side must broadcast")
  }

  test("curate_snapshot_diff: document content never shuffles — only ids, sources and fingerprints cross an Exchange") {
    val p = plan("curate_snapshot_diff")
    assert(!p.contains("CartesianProduct"))
    val exchangeIds = "\\((\\d+)\\) Exchange".r.findAllMatchIn(p).map(_.group(1)).toSet
    for (id <- exchangeIds) {
      val detail = p.linesIterator.dropWhile(!_.startsWith(s"($id) Exchange"))
        .takeWhile(l => l.startsWith(s"($id)") || !l.matches("^\\(\\d+\\).*"))
        .mkString("\n")
      assert(!detail.contains("text#"),
        s"document text crossed Exchange ($id):\n$detail")
    }
  }

  test("round-9 codec queries: one sort exchange, no joins, payloads never cross an Exchange") {
    // mm_decode_gif / mm_frame_sample_mjpeg / mm_frame_sample_gif share
    // the codec-boundary shape: encode + decode both inside
    // mapPartitions, payload column dropped at the boundary, so the ONLY
    // exchange is the deterministic output sort and it moves no bytes of
    // container payload
    for (name <- Seq("mm_decode_gif", "mm_frame_sample_mjpeg", "mm_frame_sample_gif")) {
      val p = plan(name)
      assert(nodes(p, "Exchange") == 1, s"$name: expected only the output-sort exchange")
      assert(nodes(p, "SortMergeJoin") == 0 && nodes(p, "BroadcastHashJoin") == 0,
        s"$name: codec query must not join")
      val exchangeIds = "\\((\\d+)\\) Exchange".r.findAllMatchIn(p).map(_.group(1)).toSet
      for (id <- exchangeIds) {
        val detail = p.linesIterator.dropWhile(!_.startsWith(s"($id) Exchange"))
          .takeWhile(l => l.startsWith(s"($id)") || !l.matches("^\\(\\d+\\).*"))
          .mkString("\n")
        assert(!detail.contains("payload"),
          s"$name: payload column crossed Exchange ($id):\n$detail")
      }
    }
  }

  test("pipeline_multimodal: payloads never shuffle — codec segment narrow, downstream payload-free") {
    import org.apache.spark.sql.functions.{col, expr, when}
    val ops = graft.ops.Multimodal
    // the pre-checkpoint codec segment (ingest + dirty truncation + dup
    // slice + fused decode): payload bytes must stay inside their scan
    // partition — ZERO exchanges of any kind before the checkpoint cut
    val docs = graft.queries.Tables.documents(spark, sf)
    val dirty = ops.imageCorpus(docs)
      .union(ops.imageCorpusCrossDup(docs, every = 25, idOffset = 100000L))
      .withColumn("payload",
        when(col("media_id") % 10 === 0, expr("substring(payload, 1, 10)"))
          .otherwise(col("payload")))
    val seg = ops.imagePixelFeaturesSafe(dirty)
      .queryExecution.explainString(FormattedMode)
    assert(nodes(seg, "Exchange") == 0 && !seg.contains("BroadcastExchange"),
      s"codec segment shuffles payloads:\n${seg.linesIterator.take(20).mkString("\n")}")
    // downstream of the materialization cut the payload column must never
    // cross an Exchange — every shuffle moves only (id, dims, 5-float
    // feature) rows. The cached codec lineage IS visible in the formatted
    // plan (DISK_ONLY persist keeps lineage for block recovery, unlike
    // the localCheckpoint it replaced), so pin the precise property:
    // no Exchange node's Input carries payload bytes.
    val p = plan("pipeline_multimodal")
    val exchangeIds = "\\((\\d+)\\) Exchange".r.findAllMatchIn(p).map(_.group(1)).toSet
    for (id <- exchangeIds) {
      val detail = p.linesIterator.dropWhile(!_.startsWith(s"($id) Exchange"))
        .takeWhile(l => l.startsWith(s"($id)") || !l.matches("^\\(\\d+\\).*"))
        .mkString("\n")
      assert(!detail.contains("payload"),
        s"payload column crossed Exchange ($id):\n$detail")
    }
    // one scale-honest SMJ only: the dup-id status join (both sides
    // corpus-sized at 100 TB); the blocked pair join broadcasts at test
    // scale and shuffles on the (width, height) block key beyond it
    assert(nodes(p, "SortMergeJoin") <= 1, "a second join stopped broadcasting")
    assert(!p.contains("CartesianProduct"), "blocked pair join degenerated to a cross product")
  }

  test("privacy_k_anon: both failing-key sets join by broadcast; the corpus never sort-merges") {
    val p = plan("privacy_k_anon")
    assert(nodes(p, "BroadcastHashJoin") == 2,
      "expected exactly the two failing-key broadcast joins")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      "release decision stopped being row-local")
  }

  test("sample_group_k: per-group draw is the bounded-heap aggregate, not a ranking window") {
    val p = plan("sample_group_k")
    assert(!p.contains("Window"), "group sample ranks through a window")
    assert(p.contains("topk_pairs"), "group sample lost the heap aggregate")
  }

  test("audit_constraints: all five constraints in one scan, no joins") {
    val p = plan("audit_constraints")
    assert(nodes(p, "Scan parquet") == 1, "constraint audit re-scanned the table")
    assert(!p.contains("Join"), "constraint audit grew a join")
  }

  test("sim_bitext_margin: margin ranks through the heap aggregate; queries broadcast") {
    val p = plan("sim_bitext_margin")
    assert(!p.contains("Window"), "margin mining ranks through a window")
    assert(p.contains("topk_pairs"), "margin mining lost the heap aggregate")
    assert(!p.contains("SortMergeJoin"), "query side stopped broadcasting")
  }

  test("ml_bins_equidepth and sample_negatives: rank through RANGE partitioning, never a single-partition exchange") {
    for (q <- Seq("ml_bins_equidepth", "sample_negatives")) {
      val p = plan(q)
      assert(p.contains("rangepartitioning"), s"$q lost the range-partitioned rank")
      assert(!p.contains("SinglePartition"),
        s"$q collapsed into a single-partition exchange (the global-window plan)")
    }
    // the negative lookup broadcasts the tiny draw table into the corpus
    assert(plan("sample_negatives").contains("BroadcastHashJoin"),
      "negative draws stopped broadcasting")
  }

  test("q_funnel_conversion: three chained stage windows share ONE user_id exchange") {
    val p = plan("q_funnel_conversion")
    assert(nodes(p, "Window") == 3, "funnel stages not three windows")
    assert(!p.contains("Join"), "funnel grew a join")
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).size
    assert("\\(\\d+\\) Exchange".r.findAllMatchIn(p)
      .map(_.group(0)).toSet.size <= 3,
      s"funnel re-shuffled between stages:\n${p.linesIterator.take(25).mkString("\n")}")
    assert(userExchanges >= 1, "user_id partitioning disappeared")
  }

  test("text_dedup_spans: broadcast-set rewrite is one narrow pass (no join)") {
    val p = plan("text_dedup_spans")
    assert(!p.contains("Join"), "corpus joined instead of broadcast-set rewrite")
    assert(nodes(p, "Exchange") <= 1, "rewrite pass grew a shuffle beyond the final sort")
  }


  test("q_assoc_rules: self-join sides share one exchange at RUNTIME; no cartesian") {
    val q = SparkEntry.allQueries.find(_.name == "q_assoc_rules").get
    val df = q.build(spark, sf)
    df.collect() // drive THIS query execution so AQE finalizes its plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      s"basket self-join re-expanded its subplan at runtime:\n${p.linesIterator.take(40).mkString("\n")}")
    assert(!p.contains("CartesianProduct"), "rules plan grew a cartesian")
  }

  test("q_anomaly_hourly: one corpus scan; rolling frame rides a single hash exchange on event_type") {
    val p = plan("q_anomaly_hourly")
    assert(nodes(p, "Scan parquet") == 1,
      s"anomaly gate re-scans events:\n${p.linesIterator.take(30).mkString("\n")}")
    assert(!p.contains("Join"), "window algebra turned into a join")
  }

  test("q_scd2_lookup: dimension history broadcasts; the fact corpus never shuffles") {
    val p = plan("q_scd2_lookup")
    assert(p.contains("BroadcastHashJoin"), "temporal lookup stopped broadcasting the dimension")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"fact corpus shuffled into the lookup:\n${p.linesIterator.take(30).mkString("\n")}")
  }

  test("q_user_paths: sessionizer and path steps share ONE user-keyed exchange; no join") {
    val p = plan("q_user_paths")
    assert(nodes(p, "Exchange") <= 2,  // user_id window + trigram count agg
      s"path mining grew exchanges:\n${p.linesIterator.take(30).mkString("\n")}")
    assert(!p.contains("Join"), "path mining turned into a join")
    assert(nodes(p, "Scan parquet") == 1, "events scanned more than once")
  }

  test("q_audience_overlap: one corpus scan folds user masks; pair algebra never sort-merge-joins") {
    val p = plan("q_audience_overlap")
    assert(nodes(p, "Scan parquet") == 1,
      s"overlap matrix re-scans events:\n${p.linesIterator.take(30).mkString("\n")}")
    assert(!p.contains("SortMergeJoin"), "tiny mask relation shuffled into a sort-merge join")
  }

  test("text_novelty_curve: the (doc, word) distinct relation is computed once (reused exchange, one corpus scan)") {
    val p = plan("text_novelty_curve")
    assert(nodes(p, "Scan parquet") == 1,
      s"novelty curve re-scans the corpus:\n${p.linesIterator.take(30).mkString("\n")}")
  }

  test("text_keywords ranks through WindowGroupLimit; df and N broadcast (no sort-merge join)") {
    val p = plan("text_keywords")
    assert(p.contains("WindowGroupLimit"), "per-doc top-k lost the heap path")
    assert(!p.contains("SortMergeJoin"), "tiny df/N tables shuffled into a sort-merge join")
  }

  test("ml_target_encode_loo: both stats joins broadcast; the fact table never sort-merge-joins") {
    val p = plan("ml_target_encode_loo")
    // 3 nodes: the customer broadcast on the fact side, the same join
    // again inside the stats subtree, and the stats broadcast back
    assert(nodes(p, "BroadcastHashJoin") == 3,
      s"expected customer + stats-side customer + segment-stats broadcasts:\n${p.linesIterator.take(30).mkString("\n")}")
    assert(!p.contains("SortMergeJoin"))
  }

  test("pipeline_decontaminate: probe and dirty-id joins broadcast — the corpus never shuffles") {
    val p = plan("pipeline_decontaminate")
    assert(!p.contains("SortMergeJoin"), "corpus shuffled for a broadcast-sized probe")
    assert(nodes(p, "BroadcastHashJoin") >= 2,
      s"expected shingle-probe + dirty-flag broadcasts:\n${p.linesIterator.take(30).mkString("\n")}")
  }

  test("mix_token_budget: two bounded passes — shard-sum aggregate + broadcast-pruned fill") {
    val p = plan("mix_token_budget")
    // pass 1 reduces the corpus to sources×256 shard sums; pass 2 joins
    // the broadcast (quota-pruned) offsets back for the in-shard fill —
    // trading the old single-scan-single-serial-window shape for two
    // parallel scans and windows that never sort a whole source
    assert(nodes(p, "Scan parquet") == 2, "expected shard-sum pass + fill pass")
    assert(nodes(p, "BroadcastHashJoin") == 1, "offset join must broadcast (sources×256 rows)")
    assert(!p.contains("SortMergeJoin"), "corpus shuffled against the tiny offset table")
  }

  test("sim_rrf_fusion: both ranker heaps fill in one corpus pass; fusion never sort-merge-joins the corpus") {
    val p = plan("sim_rrf_fusion")
    assert(nodes(p, "Scan parquet") <= 2,  // corpus + broadcast query side
      s"rrf re-scans the corpus per ranker:\n${p.linesIterator.take(30).mkString("\n")}")
    assert(!p.contains("Window"), "ranking fell back to a window over the corpus")
  }

  test("pipeline_datasheet: one corpus scan per pass, dup-fingerprint set broadcasts back") {
    val p = plan("pipeline_datasheet")
    assert(!p.contains("SortMergeJoin"), "dup flag shuffled into a sort-merge join")
    assert(nodes(p, "Scan parquet") <= 2,  // base pass + the dup-set aggregation pass
      s"datasheet re-scans the corpus:\n${p.linesIterator.take(30).mkString("\n")}")
  }

  test("q_pareto_share and q_gini_segment rank over the reduced dimension, never raw orders") {
    // the window input must be the customer/segment aggregate: exactly one
    // aggregate BELOW the window (partial+final pairs print as one node
    // id each side of the exchange)
    val pg = plan("q_gini_segment")
    assert(pg.contains("Window"), "gini lost its rank window")
    assert(!pg.contains("SortMergeJoin"), "customer dim stopped broadcasting")
    val pp = plan("q_pareto_share")
    assert(pp.contains("Window") && !pp.contains("SortMergeJoin"))
  }

  test("ingest_log_parse: quarantine aggregate is one text scan, no join") {
    val p = plan("ingest_log_parse")
    assert(!p.contains("Join"), "log parse grew a join")
    assert(p.contains("Scan text"), "front door no longer reads the staged text corpus")
  }

  test("dedup_substrings: gram join hash-shuffles (no sort-merge), no ranking window, cover set broadcasts back") {
    val p = plan("dedup_substrings")
    assert(!p.contains("SortMergeJoin"), "gram or rebuild join fell to SMJ")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window"), "span accounting must stay row-local")
    assert(p.contains("ShuffledHashJoin"), "gram join lost the hash-join hint")
  }

  test("ingest_warc: the parse is narrow — zero joins, one synthesis exchange + the output sort") {
    val p = plan("ingest_warc")
    assert(!p.contains("Join"), "WARC parse grew a join")
    assert(nodes(p, "Exchange") == 2, p.linesIterator.take(25).mkString("\n"))
  }

  test("privacy_erasure_audit: kept majority filters on the broadcast bloom; anti join never sort-merges") {
    val p = plan("privacy_erasure_audit")
    assert(p.contains("bloom_might_contain_long"), "bloom pre-filter missing from the plan")
    assert(!p.contains("SortMergeJoin"), "erasure anti join fell to SMJ")
  }

  test("text_tokens_unicode and text_bpe_apply_large stay join-free narrow passes") {
    val pu = plan("text_tokens_unicode")
    assert(!pu.contains("Join"), "unicode census grew a join")
    val pb = plan("text_bpe_apply_large")
    assert(!pb.contains("Join"), "BPE application grew a join")
    assert(nodes(pb, "Exchange") == 1, "BPE application should shuffle only for the output sort")
    assert(pb.contains("MapPartitions"), "BPE application lost the narrow typed pass")
  }

  test("knn graph: bucket equi self-join, heap ranking, never a cross product") {
    // sim_knn_clusters shares this subtree but its visible plan is the
    // post-checkpoint CC scan (Materialize.carried truncates lineage),
    // so the pin lives on the edge query where the interior is visible
    val p = plan("sim_knn_graph")
    assert(!p.contains("Window"), "knn graph ranks through a window")
    assert(p.contains("topk_pairs"), "knn graph lost the heap aggregate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "knn candidate pairing fell off the bucket equi join")
  }

  test("snapshot CDC diff is the deliberate sort-merge full-outer (both sides corpus-sized)") {
    val p = plan("maintenance_snapshot_cdc")
    assert(!p.contains("CartesianProduct"))
    // a full-outer diff of two arbitrary table versions cannot broadcast
    // either side at scale — SMJ here is the honest plan, pinned so a
    // future 'optimization' to a forced broadcast fails loudly
    assert(p.contains("SortMergeJoin FullOuter") || p.contains("Join type: FullOuter"),
      "diff lost its full-outer join shape")
  }

  test("corpus scorers broadcast their count/threshold sides, never sort-merge") {
    val dsir = plan("curate_dsir")
    assert(dsir.contains("BroadcastHashJoin"), "dsir bucket counts not broadcast")
    assert(!dsir.contains("SortMergeJoin"), "dsir corpus side shuffled into a join")
    val ppl = plan("curate_perplexity_filter")
    assert(!ppl.contains("SortMergeJoin"), "perplexity filter fell to SMJ")
    // exactly one cross shape: the 1-row corpus-mean threshold broadcast
    assert(nodes(ppl, "BroadcastNestedLoopJoin") <= 1 && !ppl.contains("CartesianProduct"),
      "perplexity threshold must be the single 1-row broadcast cross")
  }

  test("t-closeness: spine crosses are bounded-list broadcasts; cumsums stay partitioned") {
    val p = plan("privacy_t_closeness")
    assert(!p.contains("CartesianProduct"))
    assert(nodes(p, "BroadcastNestedLoopJoin") <= 2,
      "t-closeness grew a cross beyond the bands spine + totals row")
    assert(!p.contains("SortMergeJoin"), "cell fill join fell to SMJ")
  }
}
