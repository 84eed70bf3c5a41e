package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events table.
  *
  * The reference has no streaming path (batch CTAS only, SURVEY §2.D);
  * this module is part of the engine-grade extension surface: the same
  * hourly aggregation as the batch query `q_events_hourly` expressed as a
  * watermarked streaming plan, plus an arbitrary-stateful sessionizer via
  * `flatMapGroupsWithState`. EventStreamsSpec pins the streaming hourly
  * result equal to the batch result on the same files — the
  * batch/streaming consistency contract Spark's unified model promises.
  *
  * Scale: the windowed aggregate is keyed by (window, event_type) — state
  * is bounded by watermark eviction; the sessionizer keys by user_id and
  * times out idle state, so state size tracks active users, not history.
  */
object EventStreams {

  /** Events schema as the stream source must declare it. `readStream`
    * requires a user-supplied schema, but FORCING one is exactly how a
    * silent-wrong class of bug happens: round 7's driver testdata moved
    * `ts` from TIMESTAMP(NANOS) to TIMESTAMP_NTZ(µs), and a pinned
    * `LongType` made Spark reinterpret raw µs int64s as nanos — no error,
    * timestamps compressed 1000×. So the declared schema is read from the
    * batch reader's parquet footer (one driver-side footer read, no data
    * scan), and the ts column is then normalized by the SAME
    * schema-adaptive rule as the batch path
    * ([[graft.queries.Tables.normalizeTsExpr]]) — batch and stream cannot
    * disagree on what an instant means. Footer read is driver-side
    * (Bridge.parquetFooterSchema): `spark.read.parquet(f).schema` runs a
    * tiny Spark job per call, paid at every stream-gate query start. */
  def rawSchema(spark: SparkSession, sfDir: String): StructType =
    org.apache.spark.sql.graftbridge.Bridge
      .parquetFooterSchema(spark, s"$sfDir/events.parquet")

  /** Streaming source over the events parquet (file-stream; the source
    * needs a directory, so glob-filter the events file out of the sf
    * dir). */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = rawSchema(spark, sfDir)
    spark.readStream.schema(schema).format("parquet")
      .option("pathGlobFilter", "events.parquet")
      .load(sfDir)
      .withColumn("ts",
        graft.queries.Tables.normalizeTsExpr(schema("ts").dataType, "ts"))
  }

  /** Watermarked tumbling-hour aggregation — streaming twin of the batch
    * query `q_events_hourly`. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n_events"), col("sum_value"))

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(nEvents: Long, total: Double, lastTs: Long)
  final case class Session(user_id: Long, n_events: Long, total_value: Double)

  /** Arbitrary stateful sessionization: per-user running session closed
    * after `gapMinutes` of inactivity (processing-time timeout for the
    * demo; event-time in production would use timeout timestamps). */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.nEvents, s.total))
          } else {
            val events = rows.toSeq
            val prev = state.getOption.getOrElse(SessionState(0L, 0.0, 0L))
            val next = SessionState(
              prev.nEvents + events.size,
              prev.total + events.map(_.value).sum,
              events.map(_.ts.getTime).foldLeft(prev.lastTs)(math.max))
            state.update(next)
            state.setTimeoutDuration(s"$gapMinutes minutes")
            Iterator.empty
          }
      }
  }

  /** Event-time sessionizer state/output: exact arithmetic only — epoch
    * seconds for gap logic (mirrors `unix_timestamp`'s floor), values
    * accumulated at DECIMAL(18,4) as scaled longs (mirrors the
    * `cast(value as decimal(18,4))` recipe every gate sums under), so a
    * cross-engine oracle can replay the session totals bit-for-bit. */
  final case class EtSessionState(startSec: Long, lastSec: Long,
      nEvents: Long, totalScaled: Long)
  final case class SessionOut(user_id: Long, start_sec: Long,
      n_events: Long, total_value: Double)

  /** EVENT-TIME sessionization via `flatMapGroupsWithState` +
    * `EventTimeTimeout` — the production shape ([[sessionize]]'s
    * processing-time timeout is the demo): a per-user session closes
    * either when a LATER EVENT arrives past the gap (emitted with that
    * batch, deterministically) or when the WATERMARK passes
    * lastEvent + gap (the timeout path — an idle user's session still
    * closes, bounded state forever). Determinism contract (what makes
    * the driver gate possible): batches must arrive ts-ordered
    * ([[eventsMultiBatchStream]]) and rows are sorted by full-µs ts
    * within each batch, so gap decisions replay exactly; all arithmetic
    * is exact (seconds-floor gaps, DECIMAL(18,4) scaled-long totals).
    * State per user is ONE open session — O(users) bounded, evicted by
    * timeout. */
  def sessionizeEventTime(events: Dataset[Event],
      gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapSec = gapMinutes * 60L
    def usOf(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    def scaled(v: Double): Long =
      java.math.BigDecimal.valueOf(v)
        .setScale(4, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()
    // exact decimal total -> correctly-rounded double, the same
    // conversion both engines' CAST(DECIMAL(18,4) AS DOUBLE) performs
    def emit(userId: Long, s: EtSessionState): SessionOut =
      SessionOut(userId, s.startSec, s.nEvents,
        new java.math.BigDecimal(
          java.math.BigInteger.valueOf(s.totalScaled), 4).doubleValue)
    events.withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EtSessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[EtSessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(emit(userId, s))
          } else {
            val evs = rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id))
            val out = scala.collection.mutable.ListBuffer.empty[SessionOut]
            var st = state.getOption
            for (e <- evs) {
              val sec = e.ts.getTime / 1000
              st = st match {
                case Some(s) if sec - s.lastSec > gapSec =>
                  out += emit(userId, s)
                  Some(EtSessionState(sec, sec, 1L, scaled(e.value)))
                case Some(s) =>
                  Some(s.copy(lastSec = sec, nEvents = s.nEvents + 1,
                    totalScaled = s.totalScaled + scaled(e.value)))
                case None =>
                  Some(EtSessionState(sec, sec, 1L, scaled(e.value)))
              }
            }
            st.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.lastSec + gapSec) * 1000L)
            }
            out.iterator
          }
      }
  }

  final case class ClickPurchase(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, event_type: String, value: Double, ch: String)
  final case class AttrState(ch: String)
  final case class AttributedPurchase(user_id: Long, event_id: Long,
      channel: String, value: Double)

  /** STREAMING last-touch attribution — the stateful twin of the batch
    * `q_attribution_last_touch` window carry: each purchase is attributed
    * AS IT ARRIVES to the user's most recent click channel, which lives
    * in keyed state (one small string per user — bounded by active users,
    * evictable with a timeout in production). Determinism contract: rows
    * sort by (full-µs ts, click-before-purchase, event_id) within each
    * batch — the identical tie-break the batch window specs — so a
    * single-batch drive replays the batch result exactly and a
    * ts-ordered multi-batch drive ([[eventsMultiBatchStream]]) carries
    * the channel across batches (StreamingSpec pins both). */
  def attributeLastTouch(events: DataFrame): Dataset[AttributedPurchase] = {
    val spark = events.sparkSession
    import spark.implicits._
    def usOf(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val ev = events.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"),
        when(col("event_type") === "click",
          concat(lit("ch_"),
            (get_json_object(col("props"), "$.k").cast("long") % 4)
              .cast("string"))).otherwise(lit(null)).as("ch"))
      .as[ClickPurchase]
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, AttributedPurchase](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[ClickPurchase], state: GroupState[AttrState]) =>
          var ch = state.getOption.map(_.ch).orNull
          val out = scala.collection.mutable.ListBuffer.empty[AttributedPurchase]
          rows.toSeq
            .sortBy(e => (usOf(e.ts),
              if (e.event_type == "click") 0 else 1, e.event_id))
            .foreach { e =>
              // ignoreNulls carry contract (matches the batch twin's
              // last(ch, ignoreNulls=true) and the oracle's last_value
              // IGNORE NULLS): a click with no parseable channel must NOT
              // reset the carried attribution to organic.
              if (e.event_type == "click") { if (e.ch != null) ch = e.ch }
              else out += AttributedPurchase(uid, e.event_id,
                if (ch == null) "organic" else ch, e.value)
            }
          state.update(AttrState(ch))
          out.iterator
      }
  }

  /** Streaming exact dedup: drop events whose `event_id` was already seen
    * within the watermark horizon — the streaming twin of
    * [[graft.ops.Dedup.exact]]; state is bounded by watermark eviction. */
  def dedupedEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Documents schema for the streaming source (must be static for
    * `readStream`). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming source over the documents parquet. */
  def readDocuments(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream.schema(documentsSchema).format("parquet")
      .option("pathGlobFilter", "documents.parquet")
      .load(sfDir)

  /** Streaming twin of the batch curation gates: the SAME column
    * expressions ([[graft.ops.TextOps.langId]]/`wordCount`/`fingerprint`)
    * run unchanged on a streaming relation — language gate, quality gate,
    * then exact dedup on the content fingerprint.
    *
    * Documents carry no event time, so the dedup keys unbounded state
    * (one fingerprint per distinct surviving document — the same state a
    * batch dedup would shuffle); with an ingest timestamp column,
    * `withWatermark + dropDuplicatesWithinWatermark` bounds it exactly
    * like [[dedupedEvents]]. Which arrival survives per fingerprint is
    * arrival-order-dependent (streaming has no min_by over the future) —
    * the invariant streaming and batch share is the surviving
    * fingerprint SET, pinned by StreamingSpec. */
  def curatedDocuments(docs: DataFrame, minWords: Int = 20): DataFrame =
    docs.select(col("doc_id"), col("text"),
        graft.ops.TextOps.langId(col("text")).as("lang_pred"),
        graft.ops.TextOps.wordCount(col("text")).as("nw"))
      .filter(col("lang_pred") === "en" && col("nw") >= minWords)
      .withColumn("fp", graft.ops.TextOps.fingerprint(col("text")))
      .dropDuplicates("fp")

  final case class DocTok(shard: Long, doc_id: Long, n_tokens: Long)
  final case class PackAssign(shard: Long, doc_id: Long, chunk_id: Long,
      n_tokens: Long, straddles: Long)
  final case class PackCursor(cumTokens: Long)

  /** STATEFUL STREAMING sequence packing — the streaming twin of the
    * batch [[graft.ops.Packing.chunkSummary]]: documents arriving on a
    * stream are assigned to fixed-token-budget training chunks per shard,
    * with the pack cursor carried ACROSS micro-batches as keyed state.
    * This is the shape of a continuously-packing ingest pipeline: chunk
    * assignment happens as data lands, no terminal batch repack.
    *
    * State per shard is ONE long (the cumulative token cursor) —
    * O(shards) forever, no timeout needed. Determinism contract (same as
    * [[sessionizeEventTime]]): rows sort by doc_id within each batch, so
    * a single-batch drive replays the batch packer exactly; a multi-batch
    * drive is deterministic iff batches arrive id-ordered (the file
    * source's list order — StreamingSpec pins the single-file case). */
  def packChunksStream(docs: DataFrame, nShards: Int,
      budgetTokens: Long): Dataset[PackAssign] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select((col("doc_id") % nShards).as("shard"), col("doc_id"),
        graft.ops.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      .as[DocTok]
      .groupByKey(_.shard)
      .flatMapGroupsWithState[PackCursor, PackAssign](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Long, rows: Iterator[DocTok], state: GroupState[PackCursor]) =>
          var cum = state.getOption.map(_.cumTokens).getOrElse(0L)
          val out = rows.toSeq.sortBy(_.doc_id).map { r =>
            val chunkId = cum / budgetTokens
            val straddles =
              if (r.n_tokens > 0 &&
                  (cum + r.n_tokens - 1) / budgetTokens > chunkId) 1L else 0L
            cum += r.n_tokens
            PackAssign(shard, r.doc_id, chunkId, r.n_tokens, straddles)
          }
          state.update(PackCursor(cum))
          out.iterator
      }
  }

  /** Continuous-crawl NEAR-dup flagging: each micro-batch of documents
    * probes the STATIC persisted corpus band index — written bucketed by
    * its probe key via [[graft.ops.Dedup.writeBandIndex]] — through
    * [[graft.ops.Dedup.incrementalLshDups]] inside `foreachBatch`. This
    * is the production shape for streaming ingest dedup: the per-batch
    * minhash aggregation is a plain BATCH aggregation (no unbounded
    * streaming state, unlike a stream-side groupBy), the index side of
    * the probe join reads co-bucketed files exchange-free, and each
    * flagged (doc_id, dup_of) batch is handed to `sink` with its batchId
    * — idempotent sinks get exactly-once from the foreachBatch contract.
    * Caller sets trigger/checkpoint on the returned writer. */
  def lshDedupStream(docs: DataFrame, corpusIndex: DataFrame,
      sink: (DataFrame, Long) => Unit,
      idCol: String = "doc_id", textCol: String = "text",
      shingleN: Int = 3, k: Int = 8, rowsPerBand: Int = 2)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(graft.ops.Dedup.incrementalLshDups(
        batch.select(col(idCol), col(textCol)), corpusIndex,
        idCol, textCol, shingleN, k, rowsPerBand), batchId)
    }

  /** Stream-stream interval join: each purchase event enriched with the
    * same user's click events from the preceding hour. Both sides are
    * watermarked and the join carries an event-time range predicate, so
    * buffered state on each side is bounded: a click can be dropped once
    * the purchase watermark passes click_ts + 1 hour — Spark derives
    * state cleanup from exactly this constraint. This is the streaming
    * twin of the batch binned range join ([[graft.ops.RangeJoin]]).
    *
    * Scale: state is keyed by user_id (the equi-join key → one shuffle
    * per side); the range width bounds per-key state volume, and late
    * data beyond the watermark is discarded rather than buffered. */
  def purchasesWithRecentClicks(events: DataFrame): DataFrame =
    purchaseClickJoin(events, "inner")
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("p_ts"), col("c_ts"))

  /** LEFT OUTER purchase–click interval join: every matched pair emits
    * eagerly (identical to the inner join), and a purchase with NO click
    * in its 1-hour lookback emits once with a null click side — but only
    * after the watermark proves no matching click can still arrive and
    * the purchase's buffered state is evicted. From the join condition
    * `c_ts <= p_ts`, any future click for purchase p has `c_ts >= wm`,
    * so p is provably unmatched once `p_ts < wm` — Spark derives exactly
    * this state-value watermark from the condition
    * (StreamingJoinHelper), and the null row emits on the eviction pass.
    * Purchases above the final watermark remain buffered and deliberately
    * DON'T emit a null row: the stream cannot yet know they are
    * unmatched. State: both sides bounded by the 1-hour condition span +
    * watermark delay, as with the inner variant. */
  def purchasesWithClicksLeftOuter(events: DataFrame): DataFrame =
    purchaseClickJoin(events, "left_outer")
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("p_ts"), col("c_ts"))

  private def purchaseClickJoin(events: DataFrame, joinType: String): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("interval 1 hour") &&
        col("c_ts") <= col("p_ts"),
      joinType)
  }

  /** Stream–static enrichment: every event joined to a static dimension
    * by BROADCAST — the standard "decorate the firehose with reference
    * data" shape. The static side is planned once per micro-batch as a
    * broadcast hash join, so the unbounded stream side never shuffles and
    * carries no state (contrast the stream-stream join above, which must
    * buffer). Row-local operators compose here for free — the same
    * deterministic md5 split/sampling/gating expressions used in batch
    * run unchanged on a stream (they reference only the current row). */
  def enrichedWithDim(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  final case class KmvUpdate(event_type: String, n_kept: Int, kth: Long, est: Double)

  /** Streaming cardinality via a KMV (bottom-k) sketch held in keyed
    * state: per event_type, the k smallest distinct 60-bit md5-prefix
    * hashes of user_id, re-estimating distinct users on every batch —
    * the streaming twin of [[graft.ops.Sketches.kmvDistinct]] (same
    * hash, same estimate arithmetic, so the drained stream equals the
    * batch sketch on the same files; pinned in StreamingSpec).
    *
    * State per key is O(k) FOREVER — unlike exact streaming
    * countDistinct, whose state grows with the value universe. This is
    * the standard shape for unbounded-stream cardinality at scale. */
  def kmvDistinctPerType(events: DataFrame, k: Int = 256): Dataset[KmvUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val hashed = events.select(col("event_type"),
      conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long").as("h"))
      .as[(String, Long)]
    hashed.groupByKey(_._1)
      .mapGroupsWithState[Array[Long], KmvUpdate](GroupStateTimeout.NoTimeout) {
        case (tpe, rows, state) =>
          val set = scala.collection.mutable.SortedSet.empty[Long] ++
            state.getOption.getOrElse(Array.empty[Long])
          rows.foreach { case (_, h) =>
            if (set.size < k || h < set.last) {
              set += h
              if (set.size > k) set -= set.last
            }
          }
          val arr = set.toArray
          state.update(arr)
          val est =
            if (arr.length < k) arr.length.toDouble
            else (k - 1).toDouble * math.pow(2, 60) / arr.last.toDouble
          KmvUpdate(tpe, arr.length, if (arr.isEmpty) 0L else arr.last, est)
      }
  }

  final case class EwmaUpdate(user_id: Long, n_events: Long, last_cents: Long,
      ewma_num: Long, ewma_den: Long, ewma_x100: Long)

  /** Streaming EWMA in keyed state — the streaming twin of the batch
    * `q_ewma` (16-term alpha=1/2 with dyadic integer weights, see
    * [[graft.queries.TemporalQueries.qEwma]]): per user, state is the
    * 16 LARGEST (ts, event_id, v_cents) triples by event-time key — a
    * SET summary, so the drained result is arrival-order-INDEPENDENT
    * (the property every oracle-gated stream op here keeps; which
    * micro-batch delivered an event cannot change the final top-16) —
    * plus a running event counter. O(16) state per user forever; the
    * per-update EWMA is the exact same dyadic arithmetic as batch, so
    * the final update equals the batch query row for row. */
  def ewmaPerUser(events: DataFrame, depth: Int = 16): Dataset[EwmaUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(depth >= 1 && depth <= 16, "dyadic weights are sized for depth <= 16")
    val typed = events.select(col("user_id"),
        expr("unix_micros(ts)").as("tsu"), col("event_id"),
        expr("cast(round(value * 100) as bigint)").as("v"))
      .as[(Long, Long, Long, Long)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[(Long, Seq[(Long, Long, Long)]), EwmaUpdate](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var (n, top) = state.getOption.getOrElse((0L, Seq.empty[(Long, Long, Long)]))
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
          buf ++= top
          rows.foreach { case (_, tsu, eid, v) =>
            n += 1
            buf += ((tsu, eid, v))
          }
          val kept = buf.sortBy(t => (-t._1, -t._2)).take(depth).toSeq
          state.update((n, kept))
          val num = kept.iterator.zipWithIndex
            .map { case ((_, _, v), i) => v * (1L << (15 - i)) }.sum
          val den = kept.iterator.zipWithIndex
            .map { case (_, i) => 1L << (15 - i) }.sum
          EwmaUpdate(uid, n, kept.head._3, num, den, num * 100 / den)
      }
  }

  final case class HitterEntry(user_id: String, cnt: Long, err: Long)
  final case class HitterUpdate(event_type: String, n_tracked: Int,
      n_seen: Long, top: Seq[HitterEntry])

  /** Streaming heavy hitters via SpaceSaving (Metwally, Agrawal, El
    * Abbadi 2005) in keyed state: per event_type, a bounded summary of
    * at most `capacity` (user_id → count, err) entries; a new key over
    * capacity EVICTS the minimum-count entry and inherits its count as
    * its error bound. The classical guarantees hold per key group:
    * every user with true count > n_seen/capacity is tracked, and for
    * any tracked user, cnt - err <= true <= cnt.
    *
    * State is O(capacity) FOREVER — the streaming twin of the batch
    * sample-nominate/sketch-verify [[graft.ops.Sketches.heavyHitters]]
    * path, for when hitters must be current per micro-batch rather than
    * discovered in a second pass. Determinism: with capacity >= the
    * group's distinct keys no eviction occurs and counts are exact
    * (StreamingSpec pins equality to the batch groupBy); under eviction
    * the summary is arrival-order dependent, so callers rely on the
    * guarantee, not the exact entry set (spec pins the guarantee).
    * Emission order is deterministic: count desc, then user_id asc —
    * the [[graft.ops.Sketches]] tie-break convention. */
  def spaceSavingHitters(events: DataFrame, capacity: Int = 64,
      topN: Int = 10): Dataset[HitterUpdate] = {
    require(capacity >= 1 && topN >= 1, "capacity and topN must be >= 1")
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("event_type"), col("user_id").cast("string"))
      .as[(String, String)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[(Map[String, (Long, Long)], Long), HitterUpdate](
        GroupStateTimeout.NoTimeout) {
        case (tpe, rows, state) =>
          var (m, seen) = state.getOption.getOrElse(
            (Map.empty[String, (Long, Long)], 0L))
          rows.foreach { case (_, user) =>
            val u = if (user == null) "" else user
            seen += 1
            m.get(u) match {
              case Some((c, e)) => m = m.updated(u, (c + 1, e))
              case None if m.size < capacity => m = m.updated(u, (1L, 0L))
              case None =>
                // evict the min-count entry (ties: smallest key — any
                // fixed rule preserves the guarantee; this one is stable)
                val (mk, (mc, _)) = m.minBy { case (k2, (c2, _)) => (c2, k2) }
                m = (m - mk).updated(u, (mc + 1, mc))
            }
          }
          state.update((m, seen))
          val top = m.toSeq
            .map { case (u2, (c2, e2)) => HitterEntry(u2, c2, e2) }
            .sortBy(h => (-h.cnt, h.user_id))
            .take(topN)
          HitterUpdate(tpe, m.size, seen, top)
      }
  }

  /** Stage the (ts-normalized) events table as `nFiles` ts-RANGE parquet
    * files with strictly increasing modification times and return a
    * file-stream over them admitting ONE file per micro-batch — a
    * DETERMINISTIC multi-batch drive: the file source admits files in
    * mtime order, so batch k carries exactly the k-th ts range, the
    * watermark advances monotonically across batches, and per-batch
    * state metrics ([[drainToMemoryWithStateRows]]) are reproducible
    * rather than an accident of directory listing. This is the
    * staging shape a production backfill uses to replay history through
    * a streaming pipeline in event-time order. */
  def eventsMultiBatchStream(spark: SparkSession, sfDir: String,
      nFiles: Int): DataFrame = {
    require(nFiles >= 2, "a multi-batch drive needs at least 2 files")
    val staged = graft.sources.TableIO.scratchDir(spark, s"events_batches_$nFiles")
    val ev = graft.queries.Tables.events(spark, sfDir)
    ev.repartitionByRange(nFiles, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(staged)
    // range partition index == ascending ts range == part-file name order
    val parts = new java.io.File(staged).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 2000L
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + i * 2000L) }
    spark.readStream.schema(ev.schema).format("parquet")
      .option("maxFilesPerTrigger", "1")
      .load(staged)
  }

  /** Documents staged as `nFiles` doc_id-ordered files consumed one per
    * micro-batch — the multi-batch drive for the stateful packer
    * ([[packChunksStream]]'s cursor-carry contract): range partition
    * index == ascending doc_id range == file mtime order. */
  def documentsMultiBatchStream(spark: SparkSession, sfDir: String,
      nFiles: Int): DataFrame = {
    require(nFiles >= 2, "a multi-batch drive needs at least 2 files")
    val staged = graft.sources.TableIO.scratchDir(spark, s"docs_batches_$nFiles")
    val docs = graft.queries.Tables.documents(spark, sfDir)
    docs.repartitionByRange(nFiles, col("doc_id")).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(staged)
    val parts = new java.io.File(staged).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 2000L
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + i * 2000L) }
    spark.readStream.schema(docs.schema).format("parquet")
      .option("maxFilesPerTrigger", "1")
      .load(staged)
  }

  /** Run the hourly aggregation to a named in-memory sink until all
    * available data is processed (synchronous batch-over-stream drive).
    * Complete mode so the final in-memory table includes windows the
    * watermark has not yet finalized — that is what equals the batch
    * result once every file is consumed. */
  def runHourlyToMemory(spark: SparkSession, sfDir: String, queryName: String): StreamingQuery = {
    val q = hourlyAgg(readEvents(spark, sfDir))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-stream-ckpt").toString)
      .start()
    q.processAllAvailable()
    q
  }

  /** Stage events as `nFiles` ts-range on-time files PLUS one LATE
    * replay file — a duplicate of the earliest hour's rows — whose mtime
    * sorts LAST, so the file source admits it only after every on-time
    * batch. By then the watermark sits at max(ts) − delay (far past the
    * replayed hour), so watermark eviction must DROP every replayed row
    * rather than re-open its long-finalized window: the late-data
    * policy, staged deterministically.
    *
    * Returns the stream plus the planted late GROUP count — distinct
    * (hourly window, event_type) pairs among the replayed rows — because
    * that is what the state operator observes: the map-side PARTIAL
    * aggregate compresses the late rows before the state boundary
    * (single-file batch → one input partition → exactly one partial row
    * per group), so `numRowsDroppedByWatermark` counts evicted groups,
    * not raw rows. (Empirically: raw-row audits read 21 planted / 5
    * dropped at sf0.01 — the 5 being the late hour's distinct event
    * types.) */
  def eventsLateReplayStream(spark: SparkSession, sfDir: String,
      nFiles: Int): (DataFrame, Long) = {
    require(nFiles >= 2, "a multi-batch drive needs at least 2 files")
    val staged = graft.sources.TableIO.scratchDir(spark, s"events_late_$nFiles")
    val ev = graft.queries.Tables.events(spark, sfDir)
    ev.repartitionByRange(nFiles, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(staged)
    val minTs = ev.agg(min(col("ts"))).head().getTimestamp(0)
    val late = ev.filter(col("ts") < lit(minTs) + expr("INTERVAL 1 HOUR"))
    val nLate = late
      .select(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .distinct().count()
    val dir = new java.io.File(staged)
    val parts = dir.listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val base = System.currentTimeMillis() - (parts.length + 2) * 2000L
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + i * 2000L) }
    graft.sources.TableIO.stageFile(late, staged, "zzz-late-replay.parquet")
    new java.io.File(dir, "zzz-late-replay.parquet")
      .setLastModified(base + (parts.length + 1) * 2000L)
    (spark.readStream.schema(ev.schema).format("parquet")
      .option("maxFilesPerTrigger", "1").load(staged), nLate)
  }

  private val drainCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Cumulative micro-batch accounting across drains since the last
    * [[resetDrainStats]]: committed batches and their summed
    * `triggerExecution` wall time (from `recentProgress`). The bench
    * reads this to report OPERATOR time per stream gate alongside gate
    * wall time — the wall number includes query start/stop and
    * checkpoint scaffolding that a long-lived production stream pays
    * once, so `trigger_sec / batches` is the steady-state per-batch
    * latency the operator would actually run at. */
  final case class DrainStats(batches: Long, triggerMs: Long)
  private val drainStatsAcc =
    new java.util.concurrent.atomic.AtomicReference(DrainStats(0L, 0L))
  def resetDrainStats(): Unit = drainStatsAcc.set(DrainStats(0L, 0L))
  def drainStats: DrainStats = drainStatsAcc.get()
  /** Public for gates that start their own foreachBatch queries. */
  def recordDrain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val ps = q.recentProgress
    var b = 0L
    var ms = 0L
    ps.foreach { p =>
      b += 1
      val d = p.durationMs.get("triggerExecution")
      if (d != null) ms += d.longValue()
    }
    drainStatsAcc.updateAndGet(s => DrainStats(s.batches + b, s.triggerMs + ms))
  }

  /** Drain a streaming relation synchronously (`Trigger.AvailableNow`)
    * into a uniquely-named in-memory sink and return the sink table —
    * the batch-over-stream drive the driver-gated `stream_*` queries run
    * on. The sink name carries the session token plus a per-call counter,
    * so concurrent sessions and repeated runs (bench reps) never collide
    * or read a stale table; the checkpoint lands under the session
    * scratch dir (JVM-exit cleaned).
    *
    * `statePartitions`: stateful operators pin their state-store count to
    * `spark.sql.shuffle.partitions` at FIRST query start, and every
    * micro-batch then pays a fixed per-partition commit (delta file +
    * CRC + rename per store; a stream-stream join runs FOUR stores per
    * partition). A long-lived production stream wants many partitions —
    * state volume and throughput scale with keys — but a one-shot drain
    * of a bounded file is 1-2 micro-batches, where store-commit overhead
    * dominates (measured at sf0.1: the interval join drains in 3.1s at 8
    * state partitions vs 7.9s at 32 — same results, the state fits
    * either way). Each drain starts a fresh query on a fresh checkpoint,
    * so the override is per-call: set before start, restored after.
    * `None` inherits the session setting (the production default).
    *
    * Scale contract: the memory sink materializes RESULT rows on the
    * driver — correct here because every gated stream is
    * cardinality-bounded (windowed aggregates, distinct key sets, O(k)
    * sketch states), which is the same boundedness that keeps their
    * streaming STATE small. An unbounded result (e.g. the raw enriched
    * firehose) takes the production sinks instead: a file sink or
    * `foreachBatch` (the [[lshDedupStream]] shape). */
  /** Serializes the session-global shuffle-partitions set/restore below:
    * two concurrent drains racing it could pin the second drain's state
    * stores to the first's restored value. Coarse (one drain at a time
    * per JVM) but drains are short and the gate harness is serial —
    * a concurrency-hungry caller should use a cloned session instead. */
  private val drainLock = new Object

  def drainToMemory(df: DataFrame, mode: OutputMode, baseName: String,
      statePartitions: Option[Int] = None): DataFrame =
    drainToMemoryWithStateRows(df, mode, baseName, statePartitions)._1

  /** [[drainToMemory]] plus the drained query's per-batch total
    * state-store row counts (summed over state operators, one entry per
    * committed micro-batch, from `recentProgress`) — the observable that
    * turns "watermark eviction bounds state" from a scaladoc claim into
    * a gateable number (`stream_interval_join_bounded`). */
  def drainToMemoryWithStateRows(df: DataFrame, mode: OutputMode, baseName: String,
      statePartitions: Option[Int] = None): (DataFrame, Seq[Long]) =
    drainObserving(df, mode, baseName, statePartitions)(
      _.recentProgress.toSeq.map(p => p.stateOperators.map(_.numRowsTotal).sum))

  /** [[drainToMemory]] plus the drained query's TOTAL
    * `numRowsDroppedByWatermark` across state operators and batches —
    * the observable that turns "late rows are dropped, not
    * re-aggregated" from a semantics claim into a gateable number
    * (`stream_late_data`). */
  def drainToMemoryWithWatermarkDrops(df: DataFrame, mode: OutputMode,
      baseName: String, statePartitions: Option[Int] = None): (DataFrame, Long) =
    drainObserving(df, mode, baseName, statePartitions)(
      _.recentProgress.toSeq
        .map(p => p.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum)

  private def drainObserving[T](df: DataFrame, mode: OutputMode, baseName: String,
      statePartitions: Option[Int])(
      extract: org.apache.spark.sql.streaming.StreamingQuery => T): (DataFrame, T) =
    drainLock.synchronized {
      val spark = df.sparkSession
      val name =
        s"${baseName}_${graft.sources.TableIO.sessionToken(spark)}_${drainCounter.incrementAndGet()}"
      val key = "spark.sql.shuffle.partitions"
      val saved = spark.conf.get(key)
      statePartitions.foreach(n => spark.conf.set(key, n.toString))
      val observed =
        try {
          val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation",
              graft.sources.TableIO.scratchDir(spark, s"stream_ckpt_$name"))
            .start()
          try {
            q.processAllAvailable()
            recordDrain(q)
            extract(q)
          } finally q.stop()
        } finally statePartitions.foreach(_ => spark.conf.set(key, saved))
      (spark.table(name), observed)
    }
}
