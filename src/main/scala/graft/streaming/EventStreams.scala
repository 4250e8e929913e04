package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._
import graft.functions._

/** Structured Streaming surface (SURVEY.md §2.9 [NS]). The reference's
  * execution IS a bounded stream pipeline (ring-buffer producer/consumer
  * with poison-pill termination, map_reduce.cpp:72-115, 127-150); its
  * Spark-native analog is a micro-batch source → the SAME declarative
  * transforms used in batch (graft.operators.Windows) → a sink, with
  * watermarks replacing in-band termination markers.
  *
  * The aggregations here deliberately mirror Windows.tumblingCounts /
  * sessionize so batch output is the oracle for streaming output
  * (exactly-once file/memory sinks converge to the batch answer).
  *
  * Every bounded stream in graft is read and run to its end through one
  * seam here: [[fileStream]] reads a directory of drops one file per
  * micro-batch, [[drain]] runs a query until its backlog is spent and
  * it stops by itself (`Trigger.AvailableNow`, the poison pill's Spark
  * form), and [[drainEach]] is its `foreachBatch` form; a batch-keyed
  * sink lands batch N through [[BatchStore]]. A drained query has ended
  * before `stop()`, which therefore cancels no job group (stopping a
  * still-running query, even an idle one, logs two "Failed to cancel
  * job group" warnings).
  */
object EventStreams {

  /** The one file-stream reader: `dir`'s files (a glob is allowed) in
    * modification-time order, ONE per micro-batch, so a bounded drain
    * runs one batch per drop and exercises incremental state. */
  def fileStream(spark: SparkSession, dir: String, schema: StructType,
                 format: String = "parquet"): DataFrame =
    spark.readStream
      .format(format)
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .load(dir)

  /** Run a bounded query to its end: start it under
    * `Trigger.AvailableNow`, which plans the backlog present at start
    * (rate limits such as one file per trigger respected), runs every
    * batch of it, including the trailing no-data batch a watermark
    * needs, and then terminates. A failed batch rethrows here as the
    * `StreamingQueryException` carrying its cause; the query is
    * stopped either way, so none outlives the call. */
  def drain(writer: DataStreamWriter[_]): Unit = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
  }

  /** [[drain]] through `foreachBatch`: `f(batch, batchId)` runs once
    * per micro-batch, batch ids counting from 0. */
  def drainEach(stream: DataFrame)(f: (DataFrame, Long) => Unit): Unit =
    drain(stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      f(batch, batchId)
    })

  /** The events table schema with ts already as a microsecond
    * timestamp (see graft.sources.Tables.events for the NANOS issue —
    * a streaming source dir is expected to carry µs timestamps). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The events stream over a directory of parquet drops. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    fileStream(spark, dir, eventSchema)

  /** Streaming tumbling counts — same logical agg as
    * Windows.tumblingCounts; late data beyond the watermark is dropped
    * and finalized windows age out of the state store. */
  def tumblingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
      .select(col("win.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))

  /** Streaming per-type DAILY counts — the feed-health base relation:
    * 1-day tumbling windows per event_type, maintained incrementally
    * per micro-batch. Downstream, `Series.scoreDailyAnomalies` runs
    * the rolling z-score screen on the finished relation — the
    * split that makes the anomaly tripwire streamable without
    * multi-day window state: the STREAM maintains only per-(type,
    * day) counters (watermark-bounded), the cross-day lookback math
    * runs on the tiny daily relation after each batch. */
  def dailyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type").as("key"), col("win.start").cast("date").as("day"), col("n"))

  /** Watermark-bounded per-(user, day) event-type sequences: the
    * stream's state is one ordered list per (day, user) — bounded by
    * a single user's DAILY activity, not their history (at cluster
    * scale, Append mode + the watermark evict each day's lists once
    * the day closes). sort_array over (ts, event_id, type) structs
    * makes the within-day order a pure function of the data — file
    * arrival order and micro-batch boundaries cannot leak in. The
    * day grain is the deliberate semantic: a feed-health transition
    * monitor reads same-day adjacency; day-crossing pairs are
    * excluded on BOTH engines. */
  def dailyTypeSeqs(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("win"), col("user_id"))
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))).as("seq"))
      .select(col("win.start").cast("date").as("day"), col("user_id"),
        expr("transform(seq, x -> x.event_type)").as("types"))

  /** First-order Markov transition counts + row-conditional
    * probabilities over the finished [[dailyTypeSeqs]] relation — the
    * batch-side finish (the scoreDailyAnomalies split): adjacency is
    * already frozen inside each day's list, so this is one explode +
    * one aggregate over a (types × types)-sized result. */
  def transitionsFromSeqs(seqs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    seqs.where(size(col("types")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(types) - 1)," +
          " i -> struct(types[i-1] AS prev_type, types[i] AS event_type))")).as("pr"))
      .select(col("pr.prev_type"), col("pr.event_type"))
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("prev_type"))).cast("double"), 6))
  }

  /** Streaming sliding windows — same logical agg as
    * Windows.slidingCounts (1-hour windows every 30 minutes). */
  def slidingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("win"))
      .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
      .select(col("win.start").as("win_start"), col("n"), col("sum_value"))

  /** Streaming session windows (gap-merged, state-store backed). */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("win"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum2(col("value")).as("sum_value"))
      .select(col("user_id"), col("win.start").as("session_start"),
        col("n_events"), col("sum_value"))

  /** Stream-stream interval join (same logical result as
    * Windows.purchasesWithRecentClicks, which is its oracle): two
    * filtered branches of one source, each watermarked, inner-joined on
    * user_id with a 30-minute event-time range. The watermark + range
    * condition bound both join-state buffers — click state is droppable
    * once the watermark passes click_ts + 30 minutes, so state size
    * tracks the interval, not the stream length. Inner join emits pairs
    * as soon as both sides arrive (no eviction wait), so a bounded run
    * converges to the batch answer exactly. */
  def clickPurchaseJoin(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", watermark)
    purchases.join(clicks, col("c_user") === col("user_id")
        && col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES")
        && col("click_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("click_id"), col("user_id"))
  }

  /** Stream-stream LEFT OUTER interval join — the outer twin of
    * [[clickPurchaseJoin]]: purchases with no click in the trailing
    * 30-minute window emit with NULL click columns. Outer emission is
    * the part inner joins never exercise: an unmatched purchase can
    * only be declared unmatched once BOTH watermarks pass its match
    * window, so the null rows surface from state EVICTION, not from
    * data arrival — the engine must run the trailing no-data batch
    * after the final watermark advance, and a bounded run converges to
    * the batch LEFT JOIN only if the watermark ends up past every real
    * purchase (the caller arranges that with a far-future flush event;
    * see the `streaming_interval_left_join` fixture). State stays
    * bounded exactly as in the inner form: click state is droppable
    * once the watermark passes click_ts + 30 minutes, purchase state
    * once it passes purchase_ts. */
  def clickPurchaseLeftJoin(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", watermark)
    purchases.join(clicks, col("c_user") === col("user_id")
        && col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES")
        && col("click_ts") <= col("purchase_ts"),
        "left_outer")
      .select(col("purchase_id"), col("click_id"), col("user_id"))
  }

  /** Streaming exact dedup on a key column: the streaming twin of
    * Dedup.exactGroups for the at-ingest case (re-delivered files,
    * at-least-once upstreams). First occurrence emits immediately
    * (Append); the watermark bounds the key-state store — a key is
    * forgotten once the watermark passes its event time plus the
    * delay, so state tracks the re-delivery window, not stream
    * history. Duplicates arriving INSIDE the window are dropped by
    * state; rows arriving entirely behind the watermark are dropped as
    * late — size the delay to the upstream's re-delivery horizon. */
  def dedupEvents(events: DataFrame, keyCol: String = "event_id",
                  watermark: String = "30 days"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Stream-static enrichment join + windowed rollup: the standard
    * streaming-ingest enrichment, a micro-batched stream joined to a
    * BATCH dimension table. The static side is re-resolved each
    * micro-batch (so a dimension refresh is picked up without
    * restarting the query) and carries no state at all — unlike a
    * stream-stream join there is nothing to buffer or evict on the
    * dimension side; the broadcast hint keeps the per-batch join
    * map-side, which is exactly how a 1000-executor ingest wants a
    * dimension lookup to run. Result converges to the identical batch
    * join+agg, which is its oracle. */
  def enrichedSegmentCounts(events: DataFrame, dim: DataFrame,
                            watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 day").as("win"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
      .select(col("win.start").as("win_start"), col("c_mktsegment"),
        col("n"), col("sum_value"))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)
  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double,
                               last_type: String)

  /** Arbitrary stateful processing: per-user running totals via
    * mapGroupsWithState — the general escape hatch beyond windowed
    * aggs (custom state machines, CDC-style folds). Emits the updated
    * per-user snapshot each micro-batch (Update mode). */
  def runningPerUser(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0, ""))
          // fold in event order for a deterministic last_type
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val next = sorted.foldLeft(prev) { (acc, e) =>
            UserRunning(uid, acc.n_events + 1,
              // exact cents arithmetic: values sit on a 2-decimal grid
              (math.rint(acc.total_value * 100) + math.rint(e.value * 100)) / 100,
              e.event_type)
          }
          state.update(next)
          next
      }
  }

  /** The Spark 4 arbitrary-state API (transformWithState): typed state
    * handles (value/list/map, optional TTL) and timers over a
    * RocksDB-backed store — the successor to mapGroupsWithState. This
    * processor reproduces runningPerUser's fold through a ValueState
    * handle so StreamingSpec can assert the two APIs agree exactly.
    * Requires the RocksDB state store provider
    * (spark.sql.streaming.stateStore.providerClass). */
  class RunningTotalsProcessor extends StatefulProcessor[Long, Event, UserRunning] {
    @transient private var totals: ValueState[UserRunning] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserRunning]("totals",
        org.apache.spark.sql.Encoders.product[UserRunning], TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[UserRunning] = {
      val prev = if (totals.exists()) totals.get() else UserRunning(uid, 0L, 0.0, "")
      val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.event_id))
      val next = sorted.foldLeft(prev) { (acc, e) =>
        UserRunning(uid, acc.n_events + 1,
          (math.rint(acc.total_value * 100) + math.rint(e.value * 100)) / 100,
          e.event_type)
      }
      totals.update(next)
      Iterator.single(next)
    }
  }

  def runningPerUserTws(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor, TimeMode.None(), OutputMode.Update())
  }

  final case class MgTopState(counts: Map[String, Long], n_seen: Long)
  final case class TopType(user_id: Long, top_type: String, n_top: Long, n_seen: Long)

  /** Streaming bounded top-1-of-top-k: a per-key Misra-Gries summary
    * (capacity-bounded — the SAME sketch as functions.TopKByCount,
    * here held in typed transformWithState state) folded across
    * micro-batches. State per key is ≤ capacity entries regardless of
    * stream length or value cardinality — the property that lets a
    * 1000-executor job track heavy hitters per user over an unbounded
    * stream. With capacity ≥ the true distinct count the summary is
    * EXACT, so the drained stream converges to the batch group-count
    * answer (its oracle); under-capacity behavior carries the standard
    * mergeable-summaries error bound (asserted in StreamingSpec).
    * Each batch emits the key's current top type plus a monotone
    * n_seen, so "latest snapshot" = argmax(n_seen) downstream. */
  class TopTypeProcessor(capacity: Int) extends StatefulProcessor[Long, Event, TopType] {
    @transient private var state: ValueState[MgTopState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[MgTopState]("mg",
        org.apache.spark.sql.Encoders.product[MgTopState], TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[TopType] = {
      val prev = if (state.exists()) state.get() else MgTopState(Map.empty, 0L)
      val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.event_id))
      val next = sorted.foldLeft(prev) { (acc, e) =>
        val c = acc.counts
        val nc =
          if (c.contains(e.event_type)) c.updated(e.event_type, c(e.event_type) + 1)
          else if (c.size < capacity) c.updated(e.event_type, 1L)
          else {
            // the Misra-Gries step: decrement everything, drop zeros
            val dec = c.map { case (k, v) => k -> (v - 1) }.filter(_._2 > 0)
            dec
          }
        MgTopState(nc, acc.n_seen + 1)
      }
      state.update(next)
      if (next.counts.isEmpty) Iterator.empty
      else {
        val (topType, topN) = next.counts.minBy { case (k, v) => (-v, k) }
        Iterator.single(TopType(uid, topType, topN, next.n_seen))
      }
    }
  }

  def topTypePerUser(events: Dataset[Event], capacity: Int): Dataset[TopType] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TopTypeProcessor(capacity), TimeMode.None(), OutputMode.Update())
  }

  final case class OpenSession(startMicros: Long, lastMicros: Long, n: Long, cents: Long)
  final case class ClosedSession(user_id: Long, session_start: Timestamp,
                                 n_events: Long, sum_value: Double)

  private def toMicros(t: Timestamp): Long =
    t.getTime / 1000L * 1000000L + t.getNanos / 1000L

  private def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000000L * 1000L)
    t.setNanos((us % 1000000L).toInt * 1000)
    t
  }

  /** Hand-rolled session windows on flatMapGroupsWithState — the
    * arbitrary-state API driving the same semantics session_window
    * provides built-in (StreamingSpec proves they agree, including for
    * out-of-order in-watermark arrivals). The pattern to copy for
    * custom state machines the built-ins CANNOT express:
    *  - state = the OPEN session intervals per user (session_window's
    *    state has the same shape: a late-but-admitted event can open an
    *    EARLIER interval or bridge two existing ones, so one "current"
    *    session is not enough);
    *  - each batch turns events into unit sessions, merges everything
    *    within `gap` in one sorted linear pass, and emits the sessions
    *    the watermark has already sealed;
    *  - the remaining open sessions register an EVENT-TIME TIMEOUT at
    *    the earliest lastTs + gap; when the watermark passes it, the
    *    group fires with an empty iterator and the same seal logic
    *    drains whatever expired.
    * Money stays in integer cents inside state (exact merge-order
    * independence), widened to double only at emit. */
  def sessionizeCustom(events: Dataset[Event], gapMinutes: Int = 30): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[OpenSession], ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[List[OpenSession]]) =>
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val incoming = batch.toSeq.map { e =>
            val t = toMicros(e.ts)
            OpenSession(t, t, 1L, math.rint(e.value * 100).toLong)
          }
          val all = (state.getOption.getOrElse(Nil) ++ incoming)
            .sortBy(s => (s.startMicros, s.lastMicros))
          val merged = all.foldLeft(List.empty[OpenSession]) { (acc, s) =>
            acc match {
              case h :: t if s.startMicros <= h.lastMicros + gapMicros =>
                OpenSession(h.startMicros, math.max(h.lastMicros, s.lastMicros),
                  h.n + s.n, h.cents + s.cents) :: t
              case _ => s :: acc
            }
          }.reverse
          // a session is sealed once no admissible event can extend it
          val (closed, open) = merged.partition(_.lastMicros + gapMicros <= wmMicros)
          if (open.nonEmpty) {
            state.update(open)
            // ceil µs→ms (+1 ms): floor division could truncate a
            // sub-millisecond lastMicros to exactly the watermark ms,
            // tripping GroupState's "timeout cannot be earlier than
            // watermark" check. Firing ≤1 ms later never changes which
            // sessions seal (sealing re-checks against the watermark).
            state.setTimeoutTimestamp((open.map(_.lastMicros).min + 999L) / 1000L + gapMinutes * 60L * 1000L + 1L)
          } else state.remove()
          closed.map(s => ClosedSession(uid, fromMicros(s.startMicros), s.n, s.cents / 100.0))
            .iterator
      }
  }

  /** foreachBatch composed with the size-governed batch sink
    * (Sinks.writeCompacted): each micro-batch lands in the
    * [[BatchStore.landing]] `outDir` with file count ⌈rows/target⌉ and
    * a maxRecordsPerFile ceiling — replay-idempotent (a re-delivered
    * batch replaces its own directory) AND small-file-proof (a
    * trickle of tiny micro-batches cannot shatter the table into
    * thousands of files). This is the production streaming-ingest
    * recipe: exactly-once landing + compaction policy in ONE hop,
    * instead of a separate compaction job rewriting the table later. */
  def runToCompactedParquet(streamed: DataFrame, outDir: String,
                            targetRowsPerFile: Long): Unit = {
    val land = BatchStore.landing(outDir)
    drainEach(streamed)((batch, batchId) =>
      land.write(batchId)(graft.sources.Sinks.writeCompacted(batch, _, targetRowsPerFile)))
  }

  /** The latest-image table's schema, for a drain that landed nothing. */
  private val latestImageSchema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("last_ts", TimestampType),
    StructField("last_event_id", LongType), StructField("last_type", StringType),
    StructField("last_value", DoubleType)))

  /** Its last-writer-wins order: the payload after the key, compared
    * in this order. */
  private val latestImagePayload: Seq[String] = latestImageSchema.fieldNames.toSeq.tail

  /** A micro-batch of events as latest-image rows, before the argmax. */
  private def imagesOf(batch: DataFrame): DataFrame =
    batch.select(col("user_id"), col("ts").as("last_ts"), col("event_id").as("last_event_id"),
      col("event_type").as("last_type"), col("value").as("last_value"))

  /** Streaming CDC → current-snapshot materialization: foreachBatch
    * maintains a copy-on-write LATEST-IMAGE table (one row per key,
    * the key's most recent event) under `tableDir`, one immutable
    * version directory per micro-batch — a minimal lake-table
    * lifecycle (version on write, read latest, old versions stay for
    * time travel / vacuum, cf. Sinks.writeCompacted for the file-count
    * half).
    *
    * The merge rule is LAST-WRITER-WINS by (ts, event_id) — an argmax
    * per key via max(struct(...)), NOT a blind overwrite — which makes
    * the whole pipeline:
    *  - out-of-order-proof: an older image arriving in a later batch
    *    loses the argmax against the newer base row;
    *  - replay-idempotent: a re-delivered batch re-merges the same
    *    images into the version its original run read (versions are
    *    keyed by batchId; the replay overwrites its own output);
    *  - redelivery-proof: duplicate rows lose the argmax tie to
    *    themselves (same (ts, event_id)) — at-least-once upstream
    *    needs no separate dedup pass.
    * Per batch: one map-side-combined argmax over the batch, one
    * key-partitioned merge join/agg against the base — both shuffle
    * on the key only; base payload never sorts globally. At 100 TB
    * the base re-write is the cost — partition `tableDir` by a key
    * range and rewrite only touched partitions (same CoW posture as
    * ChangeData.mergeApply, which carries the op/delete semantics). */
  def runLatestImageMerge(spark: SparkSession, srcDir: String, tableDir: String): DataFrame = {
    // tableDir must be FRESH per run: without a checkpointLocation a
    // restart renumbers batchIds from 0, and the "max version strictly
    // below mine" replay rule would then merge against a STALE higher
    // version left by the previous run. Guarded here instead of
    // documented-only (the ADVICE r5 hazard).
    require(!new java.io.File(tableDir).exists() ||
        Option(new java.io.File(tableDir).listFiles()).toSeq.flatten.isEmpty,
      s"runLatestImageMerge needs a fresh tableDir (found existing versions in $tableDir); " +
        "reusing a table across runs requires a streaming checkpointLocation so batchIds resume")
    import graft.sources.LakeTable
    def latestOf(df: DataFrame): DataFrame =
      graft.operators.ChangeData.latestImage(df, "user_id", latestImagePayload)
    drainEach(readEventStream(spark, srcDir)) { (batch, batchId) =>
      val images = latestOf(imagesOf(batch))
      // the replay contract needs "the version my original run read":
      // versions are batchIds, so that is max(v) strictly below mine
      val merged = LakeTable.versions(tableDir).filter(_ < batchId).lastOption match {
        case Some(v) => latestOf(batch.sparkSession.read.parquet(LakeTable.vDir(tableDir, v))
          .unionByName(images))
        case None => images
      }
      merged.write.mode("overwrite").parquet(LakeTable.vDir(tableDir, batchId))
    }
    // an empty source dir yields zero micro-batches and zero versions —
    // return an empty latest-image relation instead of throwing on .last
    LakeTable.versions(tableDir).lastOption match {
      case Some(v) => spark.read.parquet(LakeTable.vDir(tableDir, v))
      case None =>
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          latestImageSchema)
    }
  }

  /** Streaming CDC → LakeTable: the versioned-directory device of
    * [[runLatestImageMerge]] upgraded to the full table lifecycle —
    * each micro-batch folds its per-key latest images into a
    * `graft.sources.LakeTable` via a version-PINNED last-writer-wins
    * commit (version = batchId, merging against the newest strictly
    * earlier version), which buys what the hand-rolled version dirs
    * could not: interval-pruned partial rewrites (untouched files carry
    * by reference, stats recomputed for rewritten files only),
    * manifest-backed time travel over every micro-batch boundary, and
    * compaction/vacuum afterwards with the same tools as any other
    * table. Out-of-order, replay and redelivery proofs carry over from
    * the LWW argmax + replace-own-version contract. */
  def runLatestImageLake(spark: SparkSession, srcDir: String, tableDir: String,
                         targetRowsPerFile: Long = 5000L): DataFrame = {
    require(graft.sources.LakeTable.versions(tableDir).isEmpty,
      s"runLatestImageLake needs a fresh tableDir: $tableDir (no checkpoint → batchIds restart)")
    drainEach(readEventStream(spark, srcDir)) { (batch, batchId) =>
      graft.sources.LakeTable.commitLatestImageAt(imagesOf(batch), tableDir, "user_id",
        latestImagePayload, targetRowsPerFile, version = batchId)
      ()
    }
    if (graft.sources.LakeTable.versions(tableDir).isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        latestImageSchema)
    else graft.sources.LakeTable.readLatest(spark, tableDir)
  }

  /** Convenience: [[drain]] a streaming DataFrame over a bounded
    * source dir into a memory sink named `table`, and return the sink's
    * rows as a local relation with the sink table's schema. The sink's
    * view is dropped, so neither the view nor the sink outlives the
    * call in `spark`'s catalog. */
  def runToMemory(spark: SparkSession, streamed: DataFrame, table: String,
                  mode: OutputMode = OutputMode.Complete()): DataFrame = {
    drain(streamed.writeStream.format("memory").queryName(table).outputMode(mode))
    val view = spark.table(table)
    val sink = view.queryExecution.analyzed.collectFirst {
      case p: org.apache.spark.sql.execution.streaming.sources.MemoryPlan => p.sink
    }.getOrElse(sys.error(s"$table is not a memory sink"))
    val out = spark.createDataFrame(java.util.Arrays.asList(sink.allData: _*), view.schema)
    spark.catalog.dropTempView(table)
    out
  }
}
