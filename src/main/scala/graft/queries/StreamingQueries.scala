package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.DecimalType

import graft.streaming.EventStreams

/** Driver-gated Structured Streaming queries: each drains a streaming
  * plan to completion with `Trigger.AvailableNow`
  * ([[EventStreams.drainToMemory]]) and returns the final result, so the
  * batch/streaming consistency contract is proven against the SAME
  * DuckDB oracles that gate the batch twins — not just against Spark's
  * own batch plans in specs. Every query here exercises a distinct
  * streaming capability class:
  *
  *  - `stream_events_hourly` — watermarked windowed aggregation
  *    (bounded keyed state, watermark eviction);
  *  - `stream_dedup_keys` — stateful streaming dedup (`dropDuplicates`
  *    on a key set — exactly-once emission of first arrivals);
  *  - `stream_curated_docs` — the batch curation gates (langid /
  *    word-count / fingerprint expressions) run UNCHANGED on a streaming
  *    relation, then fingerprint dedup: row-local expressions compose
  *    transparently across the batch/stream boundary;
  *  - `stream_kmv_users` — arbitrary keyed state (`mapGroupsWithState`
  *    KMV bottom-k sketch), O(k) state forever, final estimate replayed
  *    cross-engine;
  *  - `stream_interval_join` — stream-stream event-time interval join
  *    with watermark-bounded buffered state.
  *
  * Determinism: each gate projects exactly the arrival-order-INDEPENDENT
  * part of its stream (aggregate values, the distinct key/fingerprint
  * SET, the order-insensitive sketch state, the complete join pair set) —
  * what a resumed or re-partitioned run would also produce, which is why
  * a cross-engine oracle can exist at all. Arrival-order-dependent parts
  * (WHICH duplicate survives) stay spec-pinned in StreamingSpec.
  *
  * Scale: state bounds per query are noted on the source combinators in
  * [[EventStreams]]; the memory sink is the gate harness and only ever
  * holds the bounded result (see [[EventStreams.drainToMemory]]).
  */
object StreamingQueries {

  /** Watermarked tumbling-window agg drained to its final table — the
    * streaming twin of `q_events_hourly`, gated on the same SQL shape. */
  val streamEventsHourly: QueryDef = QueryDef(
    "stream_events_hourly",
    // all five gates are one-shot bounded drains → 8 state partitions
    // (see stream_interval_join's note and drainToMemory's scaladoc)
    (s, d) => EventStreams.drainToMemory(
        EventStreams.hourlyAgg(EventStreams.readEvents(s, d)),
        OutputMode.Complete, "stream_hourly", statePartitions = Some(8))
      .orderBy("hour", "event_type"),
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin))

  /** Streaming stateful dedup: the distinct (user_id, event_type) key
    * set, emitted exactly once per key across all micro-batches. The
    * projection keeps only the key — WHICH event carried it first is
    * arrival-order-dependent and deliberately not part of the gate.
    * (The watermark-bounded variant [[EventStreams.dedupedEvents]] stays
    * spec-pinned: its re-emission horizon depends on per-batch watermark
    * advancement, which no cross-engine oracle can replay.) */
  val streamDedupKeys: QueryDef = QueryDef(
    "stream_dedup_keys",
    (s, d) => EventStreams.drainToMemory(
        EventStreams.readEvents(s, d)
          .select(col("user_id"), col("event_type"))
          .dropDuplicates("user_id", "event_type"),
        OutputMode.Append, "stream_dedup", statePartitions = Some(8))
      .orderBy("user_id", "event_type"),
    Some("""SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin))

  /** The batch text-curation gates on a stream: language gate + length
    * gate + fingerprint dedup ([[EventStreams.curatedDocuments]]), gate
    * value = the surviving fingerprint SET. */
  val streamCuratedDocs: QueryDef = QueryDef(
    "stream_curated_docs",
    (s, d) => EventStreams.drainToMemory(
        EventStreams.curatedDocuments(EventStreams.readDocuments(s, d)),
        OutputMode.Append, "stream_curated", statePartitions = Some(8))
      .select(col("fp"))
      .orderBy("fp"),
    Some {
      val norm = PipelineQueries.normalizeSql
      def hits(l: String, ws: Seq[String]) =
        s"len(list_filter(w, x -> x IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS h_$l"
      val en = Seq("the", "and", "of", "to", "in", "is", "that", "for")
      val es = Seq("el", "la", "de", "que", "los", "las", "una", "por")
      val fr = Seq("le", "la", "les", "des", "est", "dans", "pour", "que")
      val de = Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein")
      s"""WITH words AS (SELECT doc_id, string_split($norm, ' ') AS w FROM documents),
        |h AS (SELECT doc_id, ${hits("de", de)}, ${hits("en", en)}, ${hits("es", es)}, ${hits("fr", fr)} FROM words),
        |b AS (SELECT doc_id, h_de, h_en, h_es, h_fr, greatest(h_de, h_en, h_es, h_fr) AS best FROM h),
        |lang AS (SELECT doc_id,
        |  CASE WHEN best = 0 THEN 'und'
        |       WHEN h_de = best THEN 'de' WHEN h_en = best THEN 'en'
        |       WHEN h_es = best THEN 'es' ELSE 'fr' END AS lang_pred FROM b),
        |filt AS (SELECT d.doc_id FROM documents d JOIN lang USING (doc_id)
        |  WHERE lang_pred = 'en'
        |    AND (CASE WHEN length($norm) = 0 THEN 0
        |         ELSE len(string_split($norm, ' ')) END) >= 20)
        |SELECT DISTINCT md5($norm) AS fp
        |FROM documents JOIN filt USING (doc_id) ORDER BY fp""".stripMargin
    })

  /** Streaming KMV cardinality sketch: the FINAL per-type state after
    * the whole stream — bottom-k is order-insensitive, so the final
    * (n_kept, kth, estimate) is exactly the batch sketch's, replayed by
    * the same bottom-k SQL as `sketch_kmv_distinct` (shared md5
    * arithmetic, shared IEEE estimate formula). Under multi-batch runs
    * the sink holds one update row per (type, batch); the final row per
    * type is selected by the state's own monotonicity — n_kept is
    * nondecreasing, and once the sketch is full kth only decreases. */
  val streamKmvUsers: QueryDef = QueryDef(
    "stream_kmv_users",
    (s, d) => EventStreams.drainToMemory(
        EventStreams.kmvDistinctPerType(EventStreams.readEvents(s, d), k = 256).toDF(),
        OutputMode.Update, "stream_kmv", statePartitions = Some(8))
      .groupBy(col("event_type"))
      .agg(max_by(struct(col("n_kept"), col("kth"), col("est")),
        struct(col("n_kept"), -col("kth"))).as("f"))
      .select(col("event_type"), col("f.n_kept").as("n_kept"),
        col("f.kth").as("kth"), round(col("f.est"), 2).as("est_distinct"))
      .orderBy("event_type"),
    Some("""WITH h AS (
      |  SELECT DISTINCT event_type,
      |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM events),
      |r AS (SELECT event_type, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn FROM h),
      |b AS (SELECT event_type, count(*) AS n_kept, max(h) AS kth
      |  FROM r WHERE rn <= 256 GROUP BY 1)
      |SELECT event_type, CAST(n_kept AS INT) AS n_kept, kth,
      |  round(CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
      |    ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) / CAST(kth AS DOUBLE)
      |    END, 2) AS est_distinct
      |FROM b ORDER BY event_type""".stripMargin))

  /** Stream-stream event-time interval join drained to its complete
    * pair set, aggregated per user (count + click-id checksum) so the
    * gate pins that EVERY qualifying pair was emitted — the
    * completeness half of the interval-join contract (state-boundedness
    * is the spec-pinned half). */
  val streamIntervalJoin: QueryDef = QueryDef(
    "stream_interval_join",
    // one-shot drain of one bounded file: 8 state partitions, not the
    // session's 32 — a stream-stream join commits FOUR stores per
    // partition per batch, and that fixed cost dominates a 1-2-batch
    // drain (3.1s vs 7.9s at sf0.1, identical results; see
    // drainToMemory's scaladoc — production streams keep the default)
    (s, d) => EventStreams.drainToMemory(
        EventStreams.purchasesWithRecentClicks(EventStreams.readEvents(s, d)),
        OutputMode.Append, "stream_ssj", statePartitions = Some(8))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("click_id")).as("click_sum"))
      .orderBy("user_id"),
    Some("""SELECT p.user_id, count(*) AS n_pairs, CAST(sum(c.event_id) AS BIGINT) AS click_sum
      |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
      |GROUP BY 1 ORDER BY p.user_id""".stripMargin))

  /** LEFT OUTER stream-stream interval join — the ninth streaming
    * capability class: null-extended emission of provably-unmatched
    * rows. Matched purchase–click pairs emit eagerly (identical to
    * `stream_interval_join`); a purchase with no click in its 1-hour
    * lookback emits ONE null-click row when the watermark proves no
    * matching click can still arrive (from `c_ts <= p_ts`: evictable
    * once `p_ts` drops below the global watermark, which Spark derives
    * from the join condition — [[EventStreams.purchasesWithClicksLeftOuter]]).
    * The oracle replays that exact arithmetic closed-form: global
    * watermark = ms-floored min(max p_ts, max c_ts) − 1h delay, null
    * rows for NOT-EXISTS purchases strictly below it. Verified
    * empirically at all three shipped SFs (195/1944/19691 null rows,
    * byte-identical sets); purchases above the final watermark stay
    * buffered and unemitted — the stream cannot yet know they are
    * unmatched, and emitting them would be wrong. */
  val streamOuterJoin: QueryDef = QueryDef(
    "stream_outer_join",
    (s, d) => EventStreams.drainToMemory(
        EventStreams.purchasesWithClicksLeftOuter(EventStreams.readEvents(s, d)),
        OutputMode.Append, "stream_louter", statePartitions = Some(8))
      .select(col("user_id"), col("purchase_id"), col("click_id"))
      .orderBy("user_id", "purchase_id", "click_id"),
    Some("""WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
      |wm AS (SELECT ((least((SELECT max(epoch_us(ts)) FROM p),
      |                      (SELECT max(epoch_us(ts)) FROM c)) // 1000)
      |         - 3600000) * 1000 AS wm_us),
      |matched AS (
      |  SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
      |  FROM p JOIN c ON p.user_id = c.user_id
      |    AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts),
      |unmatched AS (
      |  SELECT p.user_id, p.event_id AS purchase_id, CAST(NULL AS BIGINT) AS click_id
      |  FROM p, wm
      |  WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
      |      AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts)
      |    AND epoch_us(p.ts) < wm_us)
      |SELECT * FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
      |ORDER BY user_id, purchase_id, click_id""".stripMargin))

  /** State-BOUNDEDNESS of the interval join, promoted from a spec pin to
    * a driver gate: the events table is replayed as 8 deterministic
    * ts-ordered micro-batches ([[EventStreams.eventsMultiBatchStream]]),
    * and the gated row carries (a) the complete pair count — the
    * completeness half, oracle-replayed exactly — plus (b) two
    * engine-measured booleans: `multi_batch` (state existed across >= 2
    * committed batches, i.e. this actually exercised cross-batch
    * buffering) and `state_bounded` (the PEAK per-batch state-store row
    * count stayed under half the qualifying input rows — watermark
    * eviction demonstrably ran; without eviction the final batch buffers
    * the full qualifying set). The raw numbers behind the booleans are
    * printed to stderr so the driver artifact carries the evidence, not
    * just the verdict. */
  val streamIntervalJoinBounded: QueryDef = QueryDef(
    "stream_interval_join_bounded",
    (s, d) => {
      val (tbl, stateRows) = EventStreams.drainToMemoryWithStateRows(
        EventStreams.purchasesWithRecentClicks(
          EventStreams.eventsMultiBatchStream(s, d, nFiles = 8)),
        // 2 state partitions, not even the one-shot drains' 8: this gate
        // pays the per-batch store-commit fixed cost NINE times (4 join
        // stores x partitions x 9 ts-ordered batches), and the state
        // evidence (peak rows vs qualifying inputs) is partition-count
        // independent — measured at sf0.1: 8.7s at 8 partitions, 7.2s at
        // 4, 6.4s at 2, identical verdicts; the residue is micro-batch
        // scheduling + checkpoint I/O, the floor of a 9-batch drive
        OutputMode.Append, "stream_ssj_b", statePartitions = Some(2))
      val peak = if (stateRows.isEmpty) 0L else stateRows.max
      val statefulBatches = stateRows.count(_ > 0)
      val qualifying = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "click")).count()
      System.err.println(s"[stream] interval_join_bounded: per-batch state rows=" +
        s"${stateRows.mkString("[", ",", "]")} peak=$peak qualifying=$qualifying")
      tbl.agg(count(lit(1)).cast("long").as("n_pairs"))
        .withColumn("multi_batch", lit(statefulBatches >= 2))
        .withColumn("state_bounded", lit(peak > 0 && peak * 2 < qualifying))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |  TRUE AS multi_batch, TRUE AS state_bounded
      |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts""".stripMargin))

  // per-run suffix: bench reps re-run the builder in one session, and the
  // append sink + checkpoint must not be reused across runs
  private val lshRunCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Continuous-crawl streaming near-dup flagging, driver-gated — the
    * [[EventStreams.lshDedupStream]] production shape end-to-end: the
    * static corpus band index is built once (batch side), the probe set
    * is staged as 4 parquet files and replayed as 4 deterministic
    * micro-batches (mtime order, same recipe as
    * [[EventStreams.eventsMultiBatchStream]]), and each micro-batch
    * probes the index inside `foreachBatch`, appending its flagged
    * (doc_id, dup_of) pairs to a parquet sink directory.
    *
    * Why the oracle transfers verbatim from `dedup_incremental_lsh`:
    * each probe document lives in exactly one micro-batch, and its
    * verdict (min matching corpus id over shared LSH bands) depends only
    * on the STATIC index — so the union over batches equals the one-shot
    * batch probe, file-split-independent. Exactly-once: one
    * `Trigger.AvailableNow` pass over a fresh checkpoint; a restarted
    * production stream wants an idempotent sink keyed on
    * (batchId, doc_id) per the foreachBatch contract (noted at
    * [[EventStreams.lshDedupStream]]). */
  val streamLshDedup: QueryDef = QueryDef(
    "stream_lsh_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
      val index = graft.ops.Dedup.minhashBandIndex(corpus, "doc_id", "text",
        shingleN = 3, k = 8, rowsPerBand = 2)
      val probe = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
        .union(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 300000).as("doc_id"),
            concat(col("text"), lit(" extratoken")).as("text")))
      val run = s"${graft.sources.TableIO.sessionToken(s)}_${lshRunCounter.incrementAndGet()}"
      val stream = EventStreams.orderedBatchStream(probe.repartitionByRange(4, col("doc_id")),
        graft.sources.TableIO.scratchDir(s, s"stream_lsh/probe_$run"))
      val outDir = graft.sources.TableIO.scratchDir(s, s"stream_lsh/out_$run")
      // seed the sink with the empty (doc_id, dup_of) schema so the
      // final read is well-typed even if no batch flags anything
      s.range(0).select(col("id").as("doc_id"), col("id").as("dup_of"))
        .write.mode("overwrite").parquet(outDir)
      val q = EventStreams.lshDedupStream(stream, index,
          (batch, _) => batch.write.mode("append").parquet(outDir))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.sources.TableIO.scratchDir(s, s"stream_lsh/ckpt_$run"))
        .start()
      try { q.processAllAvailable(); EventStreams.recordDrain(q) } finally q.stop()
      s.read.parquet(outDir).orderBy("doc_id")
    },
    PipelineQueries.dedupIncrementalLsh.oracle)

  /** The LATE-DATA DROP policy, driver-gated — the seventh streaming
    * capability class: what happens to rows arriving AFTER their window
    * is finalized. [[EventStreams.eventsLateReplayStream]] stages the
    * on-time events as 6 ts-ordered micro-batch files plus one final
    * replay file duplicating the earliest hour; when it arrives the
    * watermark is already max(ts) − 1h, so Append-mode aggregation must
    * (a) have emitted exactly the finalized windows — window_end ≤ the
    * ms-floored watermark, the oracle replays Spark's exact boundary
    * arithmetic closed-form — and (b) DROP every replayed row instead of
    * double-counting it (the gated counts equal the clean single-pass
    * aggregation) or crashing. `late_all_dropped` audits (b) directly
    * from the progress log's `numRowsDroppedByWatermark` total: planted
    * count in, same count dropped. Scale contract: the drop is a
    * row-local predicate against the broadcast watermark — late data
    * costs zero state and zero shuffle at any volume. */
  val streamLateData: QueryDef = QueryDef(
    "stream_late_data",
    (s, d) => {
      val (stream, nLate) = EventStreams.eventsLateReplayStream(s, d, nFiles = 6)
      val (tbl, dropped) = EventStreams.drainToMemoryWithWatermarkDrops(
        EventStreams.hourlyAgg(stream), OutputMode.Append, "stream_late",
        statePartitions = Some(2))
      // Round-10 ADVICE: `numRowsDroppedByWatermark` counts PARTIAL-aggregate
      // rows reaching the state store, one per (group × input partition of the
      // replay batch) — equal to the planted group count only while the
      // coalesce(1) replay file reads as a single partition. The cross-engine
      // gate is therefore >= (every planted group evicted, no double-count —
      // the emitted counts already prove no replayed row landed); exact
      // equality stays as a logged diagnostic of the single-partition read.
      System.err.println(
        s"[stream] late_data: planted_groups=$nLate droppedByWatermark=$dropped" +
          s" exact_single_partition=${dropped == nLate}")
      tbl.withColumn("late_all_dropped", lit(nLate > 0 && dropped >= nLate))
        .orderBy("hour", "event_type")
    },
    // finalized-window predicate = Spark's exact eviction arithmetic:
    // watermark is the ms-floored max event time minus the 1h delay;
    // a window emits in Append mode iff window_end <= that watermark
    Some("""WITH b AS (
      |  SELECT (epoch_us(max(ts)) // 1000 - 3600000) * 1000 AS wm_us FROM events)
      |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
      |  TRUE AS late_all_dropped
      |FROM events, b
      |WHERE epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) <= wm_us
      |GROUP BY hour, event_type ORDER BY hour, event_type""".stripMargin))

  /** EVENT-TIME sessionization driver-gated — the eighth streaming
    * capability class: arbitrary keyed state with EVENT-TIME timeouts
    * ([[EventStreams.sessionizeEventTime]], `flatMapGroupsWithState` +
    * `EventTimeTimeout`). A session closes by DATA (a later event past
    * the 30-min gap — emitted deterministically with its batch) or by
    * WATERMARK (the idle-user path — state evicted, session emitted when
    * the watermark passes last + gap). The oracle replays both paths
    * closed-form: the batch gaps-and-islands sessionization (the
    * q_events_sessions recipe) restricted to sessions that either have a
    * successor session (closed by data) or whose timeout timestamp
    * (last_sec + 1800, in ms) is within the final ms-floored watermark —
    * Spark's exact timeout arithmetic. Trailing sessions the watermark
    * never passes are deliberately unemitted (they are still OPEN —
    * emitting them would be wrong); exact arithmetic throughout
    * (seconds-floor gaps, DECIMAL(18,4) scaled totals) makes the
    * replayed values bit-identical. */
  val streamSessions: QueryDef = QueryDef(
    "stream_sessions",
    (s, d) => {
      import s.implicits._
      val stream = EventStreams.eventsMultiBatchStream(s, d, nFiles = 6)
        .filter(col("user_id") % 10 === 0)
        .as[EventStreams.Event]
      EventStreams.drainToMemory(
          EventStreams.sessionizeEventTime(stream, gapMinutes = 30).toDF(),
          OutputMode.Append, "stream_sessions", statePartitions = Some(2))
        .select(col("user_id"),
          from_unixtime(col("start_sec"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start")
    },
    // watermark derives from the FILTERED stream's observed max ts; the
    // timeout fires when (last_sec + gap)·1000 <= the ms-floored final
    // watermark. Sessions with a successor emitted by data regardless.
    Some("""WITH e AS (
      |  SELECT user_id, event_id, ts, value FROM events WHERE user_id % 10 = 0),
      |b AS (SELECT (epoch_us(max(ts)) // 1000 - 1800000) AS wm_ms FROM e),
      |flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 > 1800
      |      THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |sess AS (
      |  SELECT user_id, event_id, ts, value,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged),
      |agg AS (
      |  SELECT user_id, session_id,
      |    min(epoch_us(ts) // 1000000) AS start_sec,
      |    max(epoch_us(ts) // 1000000) AS last_sec,
      |    count(*) AS n_events,
      |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |  FROM sess GROUP BY user_id, session_id),
      |fin AS (
      |  SELECT a.*, max(session_id) OVER (PARTITION BY user_id) AS max_sid
      |  FROM agg a)
      |SELECT user_id,
      |  strftime(make_timestamp(start_sec * 1000000), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  n_events, total_value
      |FROM fin, b
      |WHERE session_id < max_sid OR (last_sec + 1800) * 1000 < wm_ms
      |ORDER BY user_id, session_start""".stripMargin))

  /** NATIVE session windows on a stream — the tenth streaming capability
    * class: `session_window` merged incrementally in the state store
    * across micro-batches (vs `stream_sessions`' hand-rolled
    * `flatMapGroupsWithState`). The 6-file ts-ordered replay makes
    * sessions span batch boundaries, so the state-store session MERGE
    * path (not just insertion) is exercised. Append mode emits a merged
    * session only once the watermark passes its end (last event + gap) —
    * unlike the sessionizer there is no closed-by-data early emission.
    * The oracle replays the same µs-precision gap algebra as
    * `q_session_window_native` (the merge boundary is pinned in
    * SessionWindowSpec) restricted to watermark-finalized sessions,
    * using the tumbling-window family's eviction arithmetic
    * (end <= ms-floored watermark; µs-grain timestamps keep the
    * boundary equality unobservable, as with every gate in this file).
    * Scale contract: state is one merged (user, session) range per open
    * session, evicted at watermark passage — bounded by session
    * concurrency, not stream length. */
  val streamSessionWindow: QueryDef = QueryDef(
    "stream_session_window",
    (s, d) => {
      val stream = EventStreams.eventsMultiBatchStream(s, d, nFiles = 6)
        .filter(col("user_id") % 10 === 0)
        .withWatermark("ts", "30 minutes")
      EventStreams.drainToMemory(
          stream.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("value").cast(DecimalType(18, 4))).cast("double")
                .as("total_value")),
          OutputMode.Append, "stream_swin", statePartitions = Some(2))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start")
    },
    Some("""WITH e AS (
      |  SELECT user_id, event_id, ts, value FROM events WHERE user_id % 10 = 0),
      |b AS (SELECT (epoch_us(max(ts)) // 1000 - 1800000) AS wm_ms FROM e),
      |flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |      THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |sess AS (
      |  SELECT user_id, event_id, ts, value,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged),
      |agg AS (
      |  SELECT user_id, min(ts) AS ts_start, max(epoch_us(ts)) AS last_us,
      |    count(*) AS n_events,
      |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |  FROM sess GROUP BY user_id, sid)
      |SELECT user_id, strftime(ts_start, '%Y-%m-%d %H:%M:%S') AS session_start,
      |  n_events, total_value
      |FROM agg, b WHERE last_us + 1800000000 <= wm_ms * 1000
      |ORDER BY user_id, session_start""".stripMargin))

  /** Streaming heavy hitters driver-gated — the eleventh capability
    * class: a bounded mergeable summary (SpaceSaving,
    * [[EventStreams.spaceSavingHitters]]) maintained in keyed state and
    * read out as the final per-type top-10. Gate determinism: capacity
    * 4096 exceeds every type's distinct-user count at all shipped SFs
    * (max 1500 at sf0.1), so no eviction occurs and the tracked counts
    * are EXACT — the oracle is the plain groupBy count ranked with the
    * operator's own tie-break (cnt desc, user_id string asc). The
    * under-capacity eviction path (where entries become arrival-order
    * dependent and only the classical error bound holds) stays
    * spec-pinned in StreamingSpec — no cross-engine oracle can replay
    * arrival order. State: O(capacity) per event type, forever. */
  val streamHitters: QueryDef = QueryDef(
    "stream_hitters",
    (s, d) => {
      val drained = EventStreams.drainToMemory(
        EventStreams.spaceSavingHitters(EventStreams.readEvents(s, d),
          capacity = 4096, topN = 10).toDF(),
        OutputMode.Update, "stream_hitters", statePartitions = Some(8))
      // final row per type = the one with the largest n_seen (monotonic)
      drained.groupBy(col("event_type"))
        .agg(max_by(struct(col("n_seen"), col("top")), col("n_seen")).as("f"))
        .select(col("event_type"), col("f.n_seen").as("n_seen"),
          posexplode(col("f.top")).as(Seq("pos", "h")))
        .select(col("event_type"), col("n_seen"),
          (col("pos") + 1).cast("long").as("rk"),
          col("h.user_id").as("user_id"), col("h.cnt").as("cnt"))
        .orderBy("event_type", "rk")
    },
    Some("""WITH c AS (
      |  SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |ranked AS (
      |  SELECT event_type, user_id, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n_seen,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY cnt DESC, user_id ASC) AS rk
      |  FROM c)
      |SELECT event_type, n_seen, rk, user_id, cnt
      |FROM ranked WHERE rk <= 10
      |ORDER BY event_type, rk""".stripMargin))

  /** STREAM-STATIC enrichment driver-gated — the reference-data join
    * every production stream runs: each micro-batch broadcast-hash-joins
    * the customer dimension ([[EventStreams.enrichedWithDim]] — the
    * stream side carries NO state and never shuffles, unlike the
    * stream-stream joins), then a row-local deterministic md5 split
    * composes on the stream unchanged. Gated on the per-(segment, split)
    * aggregate — bounded output, and exactly the batch semantics the
    * oracle replays (stream-static joins are stateless, so batch ==
    * stream by construction; this gate proves the engine keeps it so). */
  val streamEnrich: QueryDef = QueryDef(
    "stream_enrich",
    (s, d) => {
      val dim = Tables.customer(s, d)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
      val enriched = EventStreams.enrichedWithDim(
        EventStreams.readEvents(s, d), dim, "user_id")
      val split = graft.ops.Sampling.deterministicSplit(
        enriched, "event_id", "split", Seq("train" -> 90, "test" -> 100))
      EventStreams.drainToMemory(
          split.groupBy(coalesce(col("segment"), lit("none")).as("segment"),
              col("split"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("value").cast(DecimalType(18, 4))).cast("double")
                .as("sum_value")),
          OutputMode.Complete, "stream_enrich", statePartitions = Some(8))
        .orderBy("segment", "split")
    },
    Some("""WITH e AS (
      |  SELECT event_id, value,
      |    coalesce(c.c_mktsegment, 'none') AS segment,
      |    CASE WHEN CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
      |           AS BIGINT) % 100 < 90 THEN 'train' ELSE 'test' END AS split
      |  FROM events LEFT JOIN customer c ON events.user_id = c.c_custkey)
      |SELECT segment, split, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM e GROUP BY segment, split ORDER BY segment, split""".stripMargin))

  private val cdcRunCounter = new java.util.concurrent.atomic.AtomicLong()

  /** STREAMING CDC apply — the eighth streaming capability class: a
    * changelog STREAM (I/U/D batches) continuously merged into a
    * partitioned table via
    * [[graft.sources.TableIO.mergePartitioned]] inside `foreachBatch`.
    * Orders lands year-partitioned; three staged micro-batches (updates,
    * deletes, inserts — mtime-ordered, the
    * [[EventStreams.eventsMultiBatchStream]] replay recipe) each touch
    * ONLY the 1997 partition, so every merge is a partition-scoped
    * rewrite: per-batch cost O(touched partition)+O(batch), the other
    * years' files never rewritten (the TableIOSpec listing pin). The
    * batches mutate disjoint key sets, so the final state is
    * replay-order-independent and the oracle recomputes it closed-form;
    * exactly-once comes from the foreachBatch contract + one
    * AvailableNow pass over a fresh checkpoint (a production restart
    * wants version-stamped changelog rows for idempotent re-merge). */
  val streamMergeUpsert: QueryDef = QueryDef(
    "stream_merge_upsert",
    (s, d) => {
      val money = org.apache.spark.sql.types.DecimalType(18, 2)
      val run = s"${graft.sources.TableIO.sessionToken(s)}_${cdcRunCounter.incrementAndGet()}"
      val tablePath = graft.sources.TableIO.scratchDir(s, s"stream_cdc/table_$run")
      val orders = Tables.orders(s, d).select(
        col("o_orderkey"),
        col("o_totalprice").cast(money).as("o_totalprice"),
        year(col("o_orderdate")).cast("int").as("o_year"))
      graft.sources.TableIO.replacePartitioned(orders, tablePath, Seq("o_year"))
      val y97 = orders.filter(col("o_year") === 1997)
      val batches = Seq(
        y97.filter(col("o_orderkey") % 10 === 1)
          .withColumn("o_totalprice", (col("o_totalprice") + lit(100)).cast(money))
          .withColumn("op", lit("U")),
        y97.filter(col("o_orderkey") % 10 === 2).withColumn("op", lit("D")),
        y97.filter(col("o_orderkey") % 10 === 3)
          .select((col("o_orderkey") + 5000000L).as("o_orderkey"),
            (col("o_totalprice") + lit(1000)).cast(money).as("o_totalprice"),
            col("o_year"))
          .withColumn("op", lit("I")))
      val staged = graft.sources.TableIO.scratchDir(s, s"stream_cdc/log_$run")
      val base = System.currentTimeMillis() - batches.length * 2000L
      batches.zipWithIndex.foreach { case (b, i) =>
        graft.sources.TableIO.stageFile(b, staged, s"batch_$i.parquet")
        new java.io.File(s"$staged/batch_$i.parquet").setLastModified(base + i * 2000L)
      }
      val schema = batches.head.schema
      val stream = s.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", "1").load(staged)
      val q = stream.writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty)
            graft.sources.TableIO.mergePartitioned(s, tablePath, "o_year",
              "o_orderkey", batch)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.sources.TableIO.scratchDir(s, s"stream_cdc/ckpt_$run"))
        .start()
      try { q.processAllAvailable(); EventStreams.recordDrain(q) } finally q.stop()
      s.read.parquet(tablePath)
        .groupBy(col("o_year"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice")).cast("double").as("sum_price"))
        .select(col("o_year").cast("long").as("o_year"),
          col("n_rows"), col("sum_price"))
        .orderBy("o_year")
    },
    Some("""WITH eff AS (
      |  SELECT year(o_orderdate) AS o_year,
      |    CASE WHEN o_orderkey % 10 = 1 AND year(o_orderdate) = 1997
      |      THEN CAST(o_totalprice AS DECIMAL(18,2)) + 100
      |      ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS p
      |  FROM orders
      |  WHERE NOT (o_orderkey % 10 = 2 AND year(o_orderdate) = 1997)
      |  UNION ALL
      |  SELECT 1997, CAST(o_totalprice AS DECIMAL(18,2)) + 1000
      |  FROM orders
      |  WHERE o_orderkey % 10 = 3 AND year(o_orderdate) = 1997)
      |SELECT CAST(o_year AS BIGINT) AS o_year, count(*) AS n_rows,
      |  CAST(sum(p) AS DOUBLE) AS sum_price
      |FROM eff GROUP BY o_year ORDER BY o_year""".stripMargin))

  /** STREAMING right-to-be-forgotten: deletion requests arrive as a
    * changelog stream (3 mtime-ordered micro-batches of user ids, each
    * confined to its user-bucket range) and are applied through
    * `foreachBatch` → [[graft.sources.TableIO.erasePartitioned]] — the
    * user-bucket-partitioned event table has only the touched buckets
    * rewritten per batch, and inside a bucket the kept majority rides
    * the bloom pre-filter, never a join. The gate reads the final table
    * and counts deleted-user rows REMAINING per event type (the
    * completeness zero a GDPR audit needs) next to row/value-mass
    * totals; the oracle computes the post-erasure table closed-form.
    * Completes the erasure story: batch pass (`privacy_erasure_audit`),
    * keyed CDC delete (`stream_merge_upsert`), and now streaming
    * predicate deletion against stored data. */
  val streamErasure: QueryDef = QueryDef(
    "stream_erasure",
    (s, d) => {
      val run = s"${graft.sources.TableIO.sessionToken(s)}_${cdcRunCounter.incrementAndGet()}"
      val tablePath = graft.sources.TableIO.scratchDir(s, s"stream_erase/table_$run")
      val ev = Tables.events(s, d).select(
        col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"),
        (col("user_id") % 12).as("ub"))
      graft.sources.TableIO.replacePartitioned(ev, tablePath, Seq("ub"))
      val delUsers = ev.filter(col("user_id") % 53 === 0)
        .select(col("user_id"), col("ub")).distinct()
      val batches = (0 until 3).map(i =>
        delUsers.filter(col("ub") >= i * 4 && col("ub") < (i + 1) * 4))
      val staged = graft.sources.TableIO.scratchDir(s, s"stream_erase/log_$run")
      val base = System.currentTimeMillis() - batches.length * 2000L
      batches.zipWithIndex.foreach { case (b, i) =>
        graft.sources.TableIO.stageFile(b, staged, s"batch_$i.parquet")
        new java.io.File(s"$staged/batch_$i.parquet").setLastModified(base + i * 2000L)
      }
      val schema = batches.head.schema
      val stream = s.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", "1").load(staged)
      val q = stream.writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty)
            graft.sources.TableIO.erasePartitioned(s, tablePath, "ub",
              "user_id", batch)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.sources.TableIO.scratchDir(s, s"stream_erase/ckpt_$run"))
        .start()
      try { q.processAllAvailable(); EventStreams.recordDrain(q) } finally q.stop()
      s.read.parquet(tablePath)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("user_id") % 53 === 0, 1L).otherwise(0L)).as("n_residual"),
          sum(col("value_cents")).as("sum_cents"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, count(*) AS n_rows,
      |  CAST(0 AS BIGINT) AS n_residual,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events WHERE user_id % 53 <> 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Stateful streaming sequence packing
    * ([[EventStreams.packChunksStream]]): chunk assignment happens as
    * documents land, the per-shard pack cursor carried across
    * micro-batches as keyed state (one long per shard). Gated against
    * the IDENTICAL batch packer SQL (`pack_chunks`' oracle) — the
    * batch/streaming consistency contract. */
  val streamPackChunks: QueryDef = QueryDef(
    "stream_pack_chunks",
    (s, d) => EventStreams.drainToMemory(
        EventStreams.packChunksStream(
          EventStreams.readDocuments(s, d), nShards = 8, budgetTokens = 1000)
          .toDF(),
        OutputMode.Append, "stream_pack", statePartitions = Some(8))
      .groupBy(col("shard"), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("straddles")).as("n_straddling"))
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

  /** Streaming last-touch attribution ([[EventStreams.attributeLastTouch]]):
    * purchases attributed as they arrive from per-user last-click keyed
    * state; gated on the IDENTICAL channel/revenue rollup SQL as the
    * batch window-carry query. */
  val streamAttribution: QueryDef = QueryDef(
    "stream_attribution",
    (s, d) => EventStreams.drainToMemory(
        EventStreams.attributeLastTouch(EventStreams.readEvents(s, d)).toDF(),
        OutputMode.Append, "stream_attr", statePartitions = Some(8))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("revenue"))
      .orderBy("channel"),
    Some("""WITH ev AS (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    CASE WHEN event_type = 'click'
      |         THEN 'ch_' || CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 4 AS VARCHAR)
      |    END AS ch
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |c AS (
      |  SELECT *,
      |    last_value(ch IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ts, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS attr_ch
      |  FROM ev)
      |SELECT coalesce(attr_ch, 'organic') AS channel,
      |  count(*) AS n_purchases,
      |  CAST(sum(CAST(value AS DECIMAL(18, 4))) AS DOUBLE) AS revenue
      |FROM c WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY channel""".stripMargin))

  private val snapRunCounter = new java.util.concurrent.atomic.AtomicLong()

  /** STREAMING ingest into the manifest-pointer snapshot layer: each
    * micro-batch lands as one O(delta)
    * [[graft.sources.SnapshotTable.append]] commit — the delta rows go
    * into a fresh immutable dir and the manifest grows by one line, so
    * per-batch cost is O(batch) regardless of accumulated table size,
    * and every concurrent reader keeps scanning its own committed
    * snapshot (zero retries, the SnapshotTableSpec race pin). The gate
    * drains 4 mtime-ordered event files one-per-trigger, structurally
    * REQUIREs the result is a 4-commit pure append chain, then
    * value-gates the final table state; the oracle is the same rollup
    * straight off the events table — exactly-once from the foreachBatch
    * contract + one AvailableNow pass over a fresh checkpoint (a
    * production restart resumes from the checkpoint and the snapshot
    * ids make replayed appends auditable). Completes the snapshot
    * story: replace/compact/vacuum (`maintenance_snapshot`), batch
    * append + CDC (`maintenance_snapshot_append`/`_cdc`), data skipping
    * (`maintenance_data_skipping`), and now continuous ingest. */
  val streamSnapshotAppend: QueryDef = QueryDef(
    "stream_snapshot_append",
    (s, d) => {
      val run = s"${graft.sources.TableIO.sessionToken(s)}_${snapRunCounter.incrementAndGet()}"
      val root = graft.sources.TableIO.scratchDir(s, s"stream_snap/table_$run")
      val stream = EventStreams.eventsMultiBatchStream(s, d, nFiles = 4)
      val q = stream.writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            graft.sources.SnapshotTable.append(batch, root)
            ()
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.sources.TableIO.scratchDir(s, s"stream_snap/ckpt_$run"))
        .start()
      try { q.processAllAvailable(); EventStreams.recordDrain(q) } finally q.stop()
      val snaps = graft.sources.SnapshotTable.snapshots(s, root)
      require(snaps.size == 4, s"expected 4 append commits, got ${snaps.size}")
      require(graft.sources.SnapshotTable.dirsAt(s, root, snaps.last).size == 4,
        "streaming ingest rewrote the chain instead of appending")
      graft.sources.SnapshotTable.read(s, root)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .cast("double").as("sum_value"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** stream_snapshot_exactly_once: idempotent streaming ingest —
    * `foreachBatch` is AT-LEAST-ONCE (a crash between the batch write
    * and the checkpoint commit replays the batch), so the sink must
    * dedup replays or the table double-counts. Each micro-batch commits
    * via [[graft.sources.SnapshotTable.appendIdempotent]], which
    * records `#batch:<id>` INSIDE the manifest (marker and data are one
    * atomic file). The gate then REPLAYS two batch keys with live data
    * and requires zero new snapshots — the exactly-once effect —
    * before value-gating the final table. Oracle: the plain batch
    * aggregate (a correct sink converges to the batch answer no matter
    * how many replays). */
  val streamSnapshotExactlyOnce: QueryDef = QueryDef(
    "stream_snapshot_exactly_once",
    (s, d) => {
      val run = s"${graft.sources.TableIO.sessionToken(s)}_${snapRunCounter.incrementAndGet()}"
      val root = graft.sources.TableIO.scratchDir(s, s"stream_snap_eo/table_$run")
      val stream = EventStreams.eventsMultiBatchStream(s, d, nFiles = 4)
      val q = stream.writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          if (!batch.isEmpty) {
            graft.sources.SnapshotTable.appendIdempotent(batch, root, s"b$id")
            ()
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          graft.sources.TableIO.scratchDir(s, s"stream_snap_eo/ckpt_$run"))
        .start()
      try { q.processAllAvailable(); EventStreams.recordDrain(q) } finally q.stop()
      val snaps = graft.sources.SnapshotTable.snapshots(s, root)
      require(snaps.size == 4, s"expected 4 idempotent commits, got ${snaps.size}")
      // simulate the at-least-once failure mode: re-deliver two batches
      val replay = Tables.events(s, d).limit(100)
      Seq("b0", "b3").foreach { k =>
        graft.sources.SnapshotTable.appendIdempotent(replay, root, k)
      }
      require(graft.sources.SnapshotTable.snapshots(s, root).size == 4,
        "a replayed batch key must not commit a new snapshot")
      graft.sources.SnapshotTable.read(s, root)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Streaming EWMA ([[EventStreams.ewmaPerUser]]) drained to its final
    * per-user update — gated on the SAME oracle as the batch `q_ewma`
    * (the oracle string is shared by reference, so the two can never
    * drift): the keyed top-16-by-event-time state is a set summary,
    * making the final update arrival-order-independent and therefore
    * exactly the batch answer. Final-update pick: n_events is strictly
    * monotone across a user's updates. */
  val streamEwma: QueryDef = QueryDef(
    "stream_ewma",
    (s, d) => EventStreams.drainToMemory(
        EventStreams.ewmaPerUser(EventStreams.readEvents(s, d)).toDF(),
        OutputMode.Update, "stream_ewma", statePartitions = Some(8))
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("n_events"), col("last_cents"), col("ewma_num"),
        col("ewma_den"), col("ewma_x100")), col("n_events")).as("f"))
      .select(col("user_id"), col("f.n_events").as("n_events"),
        col("f.last_cents").as("last_cents"), col("f.ewma_num").as("ewma_num"),
        col("f.ewma_den").as("ewma_den"), col("f.ewma_x100").as("ewma_x100"))
      .orderBy("user_id"),
    TemporalQueries.qEwma.oracle)

  /** stream_foreign_sync: the STREAMING twin of `pipeline_foreign_sync`
    * — a foreign Delta table consumed through the
    * [[graft.streaming.ForeignLakeStream]] micro-batch source (a real
    * DSv2 `MicroBatchStream` whose offsets are the foreign table's own
    * commit versions) into a [[graft.sources.SnapshotTable]] sink. The
    * gate proves offset-checkpoint RESUME: run 1 drains the initial
    * table; the foreign table advances two commits; run 2 restarts from
    * the checkpoint and must append EXACTLY one micro-batch holding
    * only the new files (REQUIREd via the destination's snapshot
    * count); run 3 with nothing new appends nothing. Oracle: identical
    * to the batch twin — a correct sync converges to the full-table
    * aggregate no matter how it was windowed. */
  val streamForeignSync: QueryDef = QueryDef(
    "stream_foreign_sync",
    (s, d) => {
      val run = s"${graft.sources.TableIO.sessionToken(s)}_${snapRunCounter.incrementAndGet()}"
      val (fs, base) = graft.sources.TableIO.freshScratchDir(s, s"stream_fsync/$run")
      val src = s"$base/src"; val dst = s"$base/dst"; val ckpt = s"$base/ckpt"
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        expr("cast(round(l_quantity * 100) as bigint)").as("qty_cents"),
        (col("l_orderkey") % 4).as("m"))
      def writePart(m: Int): String = {
        val name = f"part-$m%05d.snappy.parquet"
        graft.sources.TableIO.stageFile(li.filter(col("m") === m), src, name)
        name
      }
      def drainOnce(): Unit = {
        val q = s.readStream.format("foreign-lake")
          .option("format", "delta").option("path", src)
          .load()
          .writeStream.foreachBatch {
            (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            if (!batch.isEmpty) {
              graft.sources.SnapshotTable.append(batch, dst)
              ()
            }
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .start()
        try { q.processAllAvailable(); EventStreams.recordDrain(q) }
        finally q.stop()
      }
      graft.sources.DeltaCompat.writeCommit(fs, src, 0, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        """{"metaData":{"id":"src","format":{"provider":"parquet"}}}""",
        s"""{"add":{"path":"${writePart(0)}","dataChange":true}}""",
        s"""{"add":{"path":"${writePart(1)}","dataChange":true}}"""))
      drainOnce()
      graft.sources.DeltaCompat.writeCommit(fs, src, 1,
        Seq(s"""{"add":{"path":"${writePart(2)}","dataChange":true}}"""))
      graft.sources.DeltaCompat.writeCommit(fs, src, 2,
        Seq(s"""{"add":{"path":"${writePart(3)}","dataChange":true}}"""))
      drainOnce() // resumes from the checkpointed foreign version
      drainOnce() // nothing new: must append nothing
      val snaps = graft.sources.SnapshotTable.snapshots(s, dst)
      require(snaps.size == 2,
        s"resume must pull exactly the new commits as one batch, got ${snaps.size}")
      graft.sources.SnapshotTable.read(s, dst)
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n"), sum(col("qty_cents")).as("sum_qty"))
        .orderBy("m")
    },
    Some("""SELECT l_orderkey % 4 AS m, count(*) AS n,
      |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem GROUP BY 1 ORDER BY m""".stripMargin))

  /** stream_delta_cdf: the STREAMING twin of `ingest_delta_cdf` — the
    * foreign-lake source in `mode=cdf`, whose micro-batches are CHANGE
    * ROWS resolved by the exact batch file-plan
    * ([[graft.sources.DeltaCompat.changeFilesBetween]]): explicit cdc
    * files stream their own `_change_type`, whole-file adds/removes
    * derive inserts/deletes, `_commit_version` rides every row. The
    * gate drains the initial inserts, advances the table through an
    * explicit-cdc UPDATE rewrite + an append + a whole-file delete,
    * resumes from the checkpoint (REQUIREd: exactly one more
    * snapshot), and value-gates the accumulated change log per type
    * against DuckDB — identical oracle to the batch twin. */
  val streamDeltaCdf: QueryDef = QueryDef(
    "stream_delta_cdf",
    (s, d) => {
      val run = s"${graft.sources.TableIO.sessionToken(s)}_${snapRunCounter.incrementAndGet()}"
      val (fs, base) = graft.sources.TableIO.freshScratchDir(s, s"stream_cdf/$run")
      val src = s"$base/src"; val dst = s"$base/dst"; val ckpt = s"$base/ckpt"
      val li = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("k"))
        .agg(sum(expr("cast(round(l_quantity * 100) as bigint)")).as("q"))
        .select(col("k"), (col("k") % 3).as("m"), col("q"))
      def drainOnce(): Unit = {
        val q = s.readStream.format("foreign-lake")
          .option("format", "delta").option("path", src)
          .option("mode", "cdf")
          .load()
          .writeStream.foreachBatch {
            (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            if (!batch.isEmpty) {
              graft.sources.SnapshotTable.append(batch, dst)
              ()
            }
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .start()
        try { q.processAllAvailable(); EventStreams.recordDrain(q) }
        finally q.stop()
      }
      graft.sources.TableIO.stageFile(li.filter(col("m") === 0), src, "p0.parquet")
      graft.sources.TableIO.stageFile(li.filter(col("m") === 1), src, "p1.parquet")
      graft.sources.DeltaCompat.writeCommit(fs, src, 0, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        """{"metaData":{"id":"t-scdf","format":{"provider":"parquet"},"configuration":{"delta.enableChangeDataFeed":"true"}}}""",
        """{"add":{"path":"p0.parquet","dataChange":true}}""",
        """{"add":{"path":"p1.parquet","dataChange":true}}"""))
      drainOnce() // derived inserts of commit 0
      // commit 1: UPDATE rewrite with explicit cdc (q+1 where q>=10000)
      val changed = li.filter(col("m") === 0 && col("q") >= 10000L)
      graft.sources.TableIO.stageFile(li.filter(col("m") === 0)
        .withColumn("q", when(col("q") >= 10000L, col("q") + 1L).otherwise(col("q"))),
        src, "p0b.parquet")
      graft.sources.TableIO.stageFile(
        changed.withColumn("_change_type", lit("update_preimage"))
          .unionByName(changed.withColumn("q", col("q") + 1L)
            .withColumn("_change_type", lit("update_postimage"))),
        src, "_change_data/cdc-1.parquet")
      graft.sources.DeltaCompat.writeCommit(fs, src, 1, Seq(
        """{"remove":{"path":"p0.parquet","dataChange":true}}""",
        """{"add":{"path":"p0b.parquet","dataChange":true}}""",
        """{"cdc":{"path":"_change_data/cdc-1.parquet","dataChange":false}}"""))
      // commit 2: append; commit 3: whole-file delete (p1 not vacuumed)
      graft.sources.TableIO.stageFile(li.filter(col("m") === 2), src, "p2.parquet")
      graft.sources.DeltaCompat.writeCommit(fs, src, 2,
        Seq("""{"add":{"path":"p2.parquet","dataChange":true}}"""))
      graft.sources.DeltaCompat.writeCommit(fs, src, 3,
        Seq("""{"remove":{"path":"p1.parquet","dataChange":true}}"""))
      val before = graft.sources.SnapshotTable.snapshots(s, dst).size
      drainOnce() // resumes from the checkpointed version, pulls (0,3]
      drainOnce() // nothing new: must append nothing
      val snaps = graft.sources.SnapshotTable.snapshots(s, dst)
      require(before == 1 && snaps.size == 2,
        s"resume must pull the three commits as one batch, got $before -> ${snaps.size}")
      graft.sources.SnapshotTable.read(s, dst)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
        .orderBy("_change_type")
    },
    Some("""WITH li AS (
      |  SELECT l_orderkey % 3 AS m,
      |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY l_orderkey),
      |ch AS (
      |  SELECT 'insert' AS _change_type, q FROM li WHERE m IN (0, 1)
      |  UNION ALL
      |  SELECT 'insert', q FROM li WHERE m = 2
      |  UNION ALL
      |  SELECT 'update_preimage', q FROM li WHERE m = 0 AND q >= 10000
      |  UNION ALL
      |  SELECT 'update_postimage', q + 1 FROM li WHERE m = 0 AND q >= 10000
      |  UNION ALL
      |  SELECT 'delete', q FROM li WHERE m = 1)
      |SELECT _change_type, count(*) AS n, CAST(sum(q) AS BIGINT) AS sum_q
      |FROM ch GROUP BY 1 ORDER BY _change_type""".stripMargin))

  val all: Seq[QueryDef] = Seq(
    streamForeignSync, streamDeltaCdf,
    streamPackChunks, streamAttribution, streamSnapshotAppend,
    streamSnapshotExactlyOnce,
    streamEventsHourly, streamDedupKeys, streamCuratedDocs, streamKmvUsers,
    streamIntervalJoin, streamIntervalJoinBounded, streamLshDedup, streamLateData,
    streamSessions, streamSessionWindow, streamHitters, streamOuterJoin,
    streamEnrich, streamMergeUpsert, streamErasure, streamEwma)
}
