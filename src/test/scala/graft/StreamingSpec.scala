package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Windows
import graft.streaming.EventStreams

/** Streaming == batch: the micro-batch pipelines must converge to the
  * same answers as their batch twins (which are DuckDB-oracle-checked),
  * fed file-by-file to exercise incremental state. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(1704067200000L + minute * 60000L)

  private val events = Seq(
    (1L, ts(5), 100L, "click", 1.0, ""),
    (2L, ts(30), 100L, "view", 2.0, ""),
    (3L, ts(65), 100L, "click", 4.0, ""),    // second hour, second session (gap 35m)
    (4L, ts(10), 200L, "view", 8.0, ""),
    (5L, ts(125), 200L, "click", 16.0, ""))  // third hour, new session

  private def writeBatches(dir: String): Unit = {
    val df = events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // three file drops → three micro-batches (maxFilesPerTrigger=1)
    df.where($"event_id" <= 2).coalesce(1).write.parquet(s"$dir/b0")
    df.where($"event_id" === 3 || $"event_id" === 4).coalesce(1).write.parquet(s"$dir/b1")
    df.where($"event_id" === 5).coalesce(1).write.parquet(s"$dir/b2")
  }

  private def eventsDf = events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("streaming tumbling counts converge to the batch answer") {
    val dir = Files.createTempDirectory("graft-stream").toString
    writeBatches(dir)
    val streamDir = s"$dir/{b0,b1,b2}"
    val streamed = EventStreams.tumblingCounts(
      EventStreams.readEventStream(spark, streamDir))
    val got = EventStreams.runToMemory(spark, streamed, "tumbling_out")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = Windows.tumblingCounts(eventsDf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === want)
  }

  test("dailyTypeSeqs: day-bounded order-frozen sequences; transitions exclude day-crossing pairs") {
    val dir = Files.createTempDirectory("graft-stream-seq").toString
    val day2 = 24 * 60 // minutes into day 2
    val ev = Seq(
      // user 100, day 1: click → view → click (arrival order scrambled
      // across files — sort_array must freeze ts order regardless)
      (1L, ts(5), 100L, "click", 1.0, ""),
      (2L, ts(30), 100L, "view", 2.0, ""),
      (3L, ts(65), 100L, "click", 4.0, ""),
      // user 100, day 2: purchase — the (click → purchase) pair CROSSES
      // the day boundary and must not be counted
      (4L, ts(day2 + 10), 100L, "purchase", 8.0, ""),
      // user 200, day 1: a single event — no pairs
      (5L, ts(10), 200L, "view", 16.0, ""))
    val df = ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // file drops deliberately out of time order within user 100's day 1
    df.where($"event_id" === 2 || $"event_id" === 5).coalesce(1).write.parquet(s"$dir/b0")
    df.where($"event_id" === 3 || $"event_id" === 4).coalesce(1).write.parquet(s"$dir/b1")
    df.where($"event_id" === 1).coalesce(1).write.parquet(s"$dir/b2")
    val seqs = EventStreams.runToMemory(spark,
      EventStreams.dailyTypeSeqs(EventStreams.readEventStream(spark, s"$dir/{b0,b1,b2}")),
      "seq_out")
    val u100d1 = seqs.where($"user_id" === 100L)
      .orderBy("day").collect().map(_.getSeq[String](2).toList).toList
    assert(u100d1 === List(List("click", "view", "click"), List("purchase")))
    val trans = EventStreams.transitionsFromSeqs(seqs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    // only user 100 day 1 yields pairs; click→purchase (day-crossing)
    // and user 200 (singleton) contribute nothing
    assert(trans === Set(("click", "view", 1L, 1.0), ("view", "click", 1L, 1.0)))
  }

  test("streaming session windows converge to the batch sessionize answer") {
    val dir = Files.createTempDirectory("graft-stream3").toString
    writeBatches(dir)
    val streamed = EventStreams.sessionize(
      EventStreams.readEventStream(spark, s"$dir/{b0,b1,b2}"), gap = "30 minutes")
    val got = EventStreams.runToMemory(spark, streamed, "session_out")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
    val want = Windows.sessionize(eventsDf, "30 minutes")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === want)
  }

  test("append-mode sessions: watermark finalizes exactly once, drops late data, drains state") {
    val dir = Files.createTempDirectory("graft-stream-append").toString
    def hm(h: Int, m: Int) = new Timestamp(1704067200000L + (h * 60L + m) * 60000L)
    val all = Seq(
      // batch 0: session A = user 1 @ [00:00, 00:10], ends 00:40
      Seq((1L, hm(0, 0), 1L, "click", 1.0, ""), (2L, hm(0, 10), 1L, "click", 2.0, "")),
      // batch 1: session B @ 05:00; watermark after = 04:00 > A's end
      Seq((3L, hm(5, 0), 1L, "click", 4.0, "")),
      // batch 2: session C; A is evicted here (eviction watermark 04:00)
      Seq((5L, hm(10, 0), 1L, "click", 8.0, "")),
      // batch 3: event 4 is LATE — dropped because the LATE-EVENT
      // filter lags the eviction watermark by one batch (SPARK-40925:
      // filtering uses the previous batch's watermark, 04:00 here, so
      // late data must trail the advancing event by >= 2 batches to be
      // guaranteed dropped); event 6 opens session D and keeps the
      // watermark moving so the trailing no-data batch evicts C
      Seq((4L, hm(0, 20), 1L, "click", 100.0, ""), (6L, hm(15, 0), 1L, "click", 16.0, "")))
    all.zipWithIndex.foreach { case (evs, i) =>
      evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/b$i")
      // deterministic batch order: FileStreamSource orders by mtime,
      // which the local Hadoop FS reports at SECOND granularity — pin
      // each drop's files to a distinct whole second instead of sleeping
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(s"$dir/b$i")).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .foreach(p => p.toFile.setLastModified(1700000000000L + i * 1000L))
    }
    val streamed = EventStreams.sessionize(
      EventStreams.readEventStream(spark, s"$dir/b*"), gap = "30 minutes", watermark = "1 hour")
    val q = streamed.writeStream.format("memory").queryName("append_sessions")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    val stateRows = q.recentProgress.flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .lastOption.map(_.numRowsTotal)
    q.stop()
    val out = spark.table("append_sessions")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    // finalized sessions A, B, C emitted EXACTLY once; the late event's
    // value (100.0) is absent from A; unfinalized D never emitted
    assert(out.sorted.toSeq === Seq(
      (1L, hm(0, 0), 2L, 3.0), (1L, hm(5, 0), 1L, 4.0), (1L, hm(10, 0), 1L, 8.0)))
    assert(stateRows === Some(1L), s"expected only session D left in the store, got $stateRows")
  }

  test("stream-static join: per-batch dimension lookup carries no state, converges to batch") {
    val dir = Files.createTempDirectory("graft-stream-ss").toString
    writeBatches(dir)
    val dim = Seq((100L, "SEG_A"), (200L, "SEG_B"), (999L, "UNUSED"))
      .toDF("c_custkey", "c_mktsegment")
    val streamed = EventStreams.enrichedSegmentCounts(
      EventStreams.readEventStream(spark, s"$dir/{b0,b1,b2}"), dim)
    val q = streamed.writeStream.format("memory")
      .queryName("enrich_out").outputMode(OutputMode.Complete()).start()
    q.processAllAvailable()
    // static side buffers nothing: no stateful operator reports rows
    val state = q.lastProgress.stateOperators
    assert(state.forall(_.operatorName != "symmetricHashJoin"),
      "a stream-static join must not plan a stateful join operator")
    q.stop()
    val got = spark.table("enrich_out")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = eventsDf
      .join(dim, $"user_id" === $"c_custkey")
      .groupBy(org.apache.spark.sql.functions.window($"ts", "1 day"), $"c_mktsegment")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        graft.functions.dsum2($"value").as("sum_value"))
      .select($"window.start", $"c_mktsegment", $"n", $"sum_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === want)
  }

  test("stream-stream interval join converges to the batch interval join") {
    val dir = Files.createTempDirectory("graft-stream-ssj").toString
    // purchases pair with same-user clicks <= 30 minutes before them:
    // p2-c1 (10m apart), p4-c5 and p6-c5 (both 20m); c3 is 40m before
    // p4 (no pair); user 2's purchase has no click at all
    val mixed = Seq(
      (1L, ts(0), 1L, "click", 1.0, ""), (2L, ts(10), 1L, "purchase", 2.0, ""),
      (3L, ts(50), 1L, "click", 4.0, ""), (4L, ts(90), 1L, "purchase", 8.0, ""),
      (5L, ts(70), 1L, "click", 16.0, ""), (6L, ts(90), 1L, "purchase", 32.0, ""),
      (7L, ts(20), 2L, "purchase", 64.0, ""))
    val df = mixed.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    df.where($"event_id" <= 3).coalesce(1).write.parquet(s"$dir/b0")
    df.where($"event_id" > 3).coalesce(1).write.parquet(s"$dir/b1")
    val streamed = EventStreams.clickPurchaseJoin(
      EventStreams.readEventStream(spark, s"$dir/{b0,b1}"))
    val q = streamed.writeStream.format("memory").queryName("ssjoin_out")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssjoin_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Windows.purchasesWithRecentClicks(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    assert(want === Set((2L, 1L, 1L), (4L, 5L, 1L), (6L, 5L, 1L)))
  }

  test("stream-stream LEFT OUTER interval join: unmatched purchases emit null clicks on eviction") {
    val dir = Files.createTempDirectory("graft-stream-sslj").toString
    // same pairing fixture as the inner-join test: user 2's purchase
    // (id 7) has no click at all and must surface as a NULL row
    val mixed = Seq(
      (1L, ts(0), 1L, "click", 1.0, ""), (2L, ts(10), 1L, "purchase", 2.0, ""),
      (3L, ts(50), 1L, "click", 4.0, ""), (4L, ts(90), 1L, "purchase", 8.0, ""),
      (5L, ts(70), 1L, "click", 16.0, ""), (6L, ts(90), 1L, "purchase", 32.0, ""),
      (7L, ts(20), 2L, "purchase", 64.0, ""))
    val df = mixed.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    df.where($"event_id" <= 3).coalesce(1).write.parquet(s"$dir/b0")
    df.where($"event_id" > 3).coalesce(1).write.parquet(s"$dir/b1")
    // flush sentinel: a far-future click+purchase pair, mtime-forced to
    // arrive LAST, so the final watermark passes every real purchase
    // and eviction emits the unmatched rows before the bounded run ends
    val far = new Timestamp(ts(0).getTime + 367L * 24 * 3600 * 1000)
    Seq((-1L, far, -1L, "click", 0.0, ""), (-2L, far, -1L, "purchase", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/b2")
    new java.io.File(s"$dir/b2").listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => assert(f.setLastModified(4102444800000L)))
    val streamed = EventStreams.clickPurchaseLeftJoin(
      EventStreams.readEventStream(spark, s"$dir/{b0,b1,b2}"), watermark = "365 days")
    val q = streamed.writeStream.format("memory").queryName("ssljoin_out")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssljoin_out").where($"user_id" =!= -1L)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2))).toSet
    assert(got === Set(
      (2L, Some(1L), 1L), (4L, Some(5L), 1L), (6L, Some(5L), 1L), (7L, None, 2L)))
  }

  test("flatMapGroupsWithState sessions agree with batch sessionize and close on event-time timeout") {
    val dir = Files.createTempDirectory("graft-stream-fmgws").toString
    def hm(h: Int, m: Int) = new Timestamp(1704067200000L + (h * 60L + m) * 60000L)
    val all = Seq(
      // b0: user 1 session A [00:00, 00:10]; user 2 has TWO sessions in
      // one batch (00:00 and 01:00, gap > 30m) — the first must close
      // in-batch without any timeout
      Seq((1L, hm(0, 0), 1L, "click", 1.25, ""), (2L, hm(0, 10), 1L, "click", 2.0, ""),
        (10L, hm(0, 0), 2L, "view", 0.75, ""), (11L, hm(1, 0), 2L, "view", 4.0, "")),
      Seq((3L, hm(5, 0), 1L, "click", 8.0, "")),   // b1: session B
      // b2: session C; user 3 opens a session at 10:00
      Seq((4L, hm(10, 0), 1L, "click", 16.0, ""), (12L, hm(10, 0), 3L, "click", 0.5, "")),
      // b3: D stays open; user 3 gets an OUT-OF-ORDER but in-watermark
      // event at 08:30 (b3's late filter is the post-b2 watermark,
      // 08:00) — it must open its own EARLIER session, not merge into
      // or rewind the 10:00 one
      Seq((5L, hm(15, 0), 1L, "click", 32.0, ""), (13L, hm(8, 30), 3L, "click", 0.25, "")))
    all.zipWithIndex.foreach { case (evs, i) =>
      evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/b$i")
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(s"$dir/b$i")).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .foreach(p => p.toFile.setLastModified(1700000000000L + i * 1000L))
    }
    val input = EventStreams.readEventStream(spark, s"$dir/b*").as[EventStreams.Event]
    val q = EventStreams.sessionizeCustom(input).toDF()
      .writeStream.format("memory").queryName("fmgws_sessions")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("fmgws_sessions")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
    // batch twin over the same events, minus the one still-open session
    // (D @ 15:00 — its timeout is past the final watermark)
    val df = all.flatten.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val want = Windows.sessionize(df)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
      .filterNot { case (u, start, _, _) => u == 1L && start == hm(15, 0) }.toSet
    assert(got === want)
    // A, B, C + user 2's two sessions + user 3's two (one born from the
    // out-of-order arrival), each exactly once
    assert(got.size === 7)
  }

  test("streaming dedup drops cross-batch redeliveries, keeps first occurrence") {
    val dir = Files.createTempDirectory("graft-stream-dedup").toString
    val drop1 = Seq((1L, ts(0), 1L, "click", 1.0, ""), (2L, ts(10), 1L, "view", 2.0, ""))
    val drop2 = Seq((2L, ts(10), 1L, "view", 2.0, ""),   // redelivered
                    (3L, ts(20), 2L, "click", 4.0, ""))
    drop1.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/b0")
    drop2.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/b1")
    val deduped = EventStreams.dedupEvents(
      EventStreams.readEventStream(spark, s"$dir/{b0,b1}"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    val ids = spark.table("dedup_out").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L)) // each id exactly once
  }

  test("watermark actually evicts state: interval-join and dedup stores report removed rows") {
    // a distant-future drop advances the watermark far past both the
    // 30-minute join range and the dedup window, so the early keys'
    // state MUST leave the stores — asserted on the state-operator
    // progress metrics, not implied from the watermark contract
    val mixed = Seq(
      (1L, ts(0), 1L, "click", 1.0, ""), (2L, ts(10), 1L, "purchase", 2.0, ""),
      (3L, ts(600), 1L, "click", 4.0, ""), (4L, ts(610), 1L, "purchase", 8.0, ""))
    def stage(tag: String): String = {
      val dir = Files.createTempDirectory(s"graft-evict-$tag").toString
      val df = mixed.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      df.where($"event_id" <= 2).coalesce(1).write.parquet(s"$dir/b0")
      df.where($"event_id" > 2).coalesce(1).write.parquet(s"$dir/b1")
      s"$dir/{b0,b1}"
    }
    def evictionStats(streamed: org.apache.spark.sql.DataFrame, name: String): (Long, Long) = {
      val q = streamed.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      q.processAllAvailable()
      val progresses = q.recentProgress.filter(_.stateOperators.nonEmpty)
      val removed = progresses.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
      val finalTotal = progresses.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      q.stop()
      (removed, finalTotal)
    }
    val (jRemoved, jTotal) = evictionStats(
      EventStreams.clickPurchaseJoin(
        EventStreams.readEventStream(spark, stage("ssj")), watermark = "5 minutes"), "evict_ssj")
    // 4 rows entered the join stores; the early pair is behind the
    // watermark by ~10 hours after batch 2 — it must be gone
    assert(jRemoved > 0 || (jTotal >= 0 && jTotal < 4),
      s"interval-join state never evicted: removed=$jRemoved finalTotal=$jTotal")
    val (dRemoved, dTotal) = evictionStats(
      EventStreams.dedupEvents(
        EventStreams.readEventStream(spark, stage("dedup")), watermark = "5 minutes"), "evict_dedup")
    assert(dRemoved > 0 || (dTotal >= 0 && dTotal < 4),
      s"dedup key state never evicted: removed=$dRemoved finalTotal=$dTotal")
  }

  test("RocksDB state store provider: disk-backed state, same exact answers") {
    // the 100 TB streaming posture: state lives in per-partition
    // RocksDB instances (bounded heap, spillable, changelog-
    // checkpointable) instead of the in-memory HDFS-backed default.
    // Same declarative pipeline, one conf — results must be identical.
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val dir = Files.createTempDirectory("graft-rocksdb").toString
    writeBatches(dir)
    val streamed = EventStreams.sessionize(
      EventStreams.readEventStream(ss, s"$dir/{b0,b1,b2}"), gap = "30 minutes")
    val q = streamed.writeStream.format("memory").queryName("rocksdb_out")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable()
    // it actually ran on RocksDB, not a silently-ignored conf
    val usedProvider = q.lastProgress.stateOperators.headOption
      .map(_.customMetrics.keySet.toString).getOrElse("")
    q.stop()
    val got = ss.table("rocksdb_out")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
    val want = Windows.sessionize(eventsDf, "30 minutes")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === want)
    assert(usedProvider.contains("rocksdb"), s"expected RocksDB custom metrics, got: $usedProvider")
  }

  test("Trigger.AvailableNow drains the backlog in bounded batches and converges to batch") {
    val dir = Files.createTempDirectory("graft-availnow").toString
    writeBatches(dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val want = rows(Windows.tumblingCounts(eventsDf)).toSet
    // drain's AvailableNow query terminates BY ITSELF once the backlog
    // drains (rate limits respected, then exit), and none outlives it
    EventStreams.drain(EventStreams.tumblingCounts(
        EventStreams.readEventStream(spark, s"$dir/{b0,b1,b2}"))
      .writeStream.format("memory").queryName("availnow_out").outputMode(OutputMode.Complete()))
    assert(spark.streams.active.isEmpty)
    assert(rows(spark.table("availnow_out")).toSet === want)
    // Append mode: a far-future drop moves the watermark past every
    // window, which the trailing NO-DATA batch then emits — batch ids
    // 0..4 for 4 drops, and exactly the batch oracle's rows
    eventsDf.limit(1).withColumn("ts", org.apache.spark.sql.functions.lit(ts(24 * 60)))
      .withColumn("event_type", org.apache.spark.sql.functions.lit("flush"))
      .coalesce(1).write.parquet(s"$dir/b3")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Array[(Timestamp, String, Long, Double)])]
    EventStreams.drainEach(EventStreams.tumblingCounts(
        EventStreams.readEventStream(spark, s"$dir/{b0,b1,b2,b3}"))) { (batch, batchId) =>
      seen.add(batchId -> rows(batch))
    }
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.map(_._1).toSeq === (0L to 4L))
    val emitted = seen.asScala.toSeq.flatMap(_._2)
    assert(emitted.size === want.size && emitted.toSet === want)
    // a failing batch rethrows with its cause and stops the query
    val boom = new IllegalStateException("batch 1 fails")
    val err = intercept[Exception] {
      EventStreams.drainEach(EventStreams.readEventStream(spark, s"$dir/{b0,b1,b2}")) {
        (_, batchId) => if (batchId == 1L) throw boom
      }
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).contains(boom), err)
    assert(spark.streams.active.isEmpty)
  }

  test("Misra-Gries top-type state: exact at capacity, heavy hitter survives under-capacity") {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    import ss.implicits._
    // one user, skewed types: A×12, B×3, C×2, D×1, interleaved so the
    // heavy hitter is never the last arrival
    val types = Seq("A", "B", "A", "A", "C", "A", "A", "B", "A", "D",
      "A", "A", "C", "A", "B", "A", "A", "A")
    val rows = types.zipWithIndex.map { case (t, i) =>
      (i.toLong, ts(i), 1L, t, 1.0, "")
    }
    val dir = Files.createTempDirectory("graft-mg").toString
    rows.take(9).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/b0")
    rows.drop(9).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/b1")
    def lastSnapshot(capacity: Int, name: String) = {
      val stream = EventStreams.readEventStream(ss, s"$dir/{b0,b1}")
        .as[EventStreams.Event]
      val out = EventStreams.runToMemory(ss,
        EventStreams.topTypePerUser(stream, capacity).toDF(), name, OutputMode.Update())
      out.orderBy(org.apache.spark.sql.functions.desc("n_seen")).head()
    }
    // capacity ≥ distinct types: summary is exact counting
    val exact = lastSnapshot(8, "mg_exact")
    assert(exact.getString(1) === "A")
    assert(exact.getLong(2) === 12L)
    assert(exact.getLong(3) === types.size.toLong)
    // capacity 2 < 4 distinct: counts are lower bounds with error ≤
    // n_seen/(capacity+1), but the true heavy hitter (12 > 18/3)
    // must survive the summary and rank first
    val small = lastSnapshot(2, "mg_small")
    assert(small.getString(1) === "A")
    assert(small.getLong(2) <= 12L && small.getLong(2) >= 12L - types.size / 3)
  }

  test("transformWithState running totals agree with the mapGroupsWithState fold") {
    val dir = Files.createTempDirectory("graft-stream-tws").toString
    writeBatches(dir)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = EventStreams.readEventStream(spark, s"$dir/{b0,b1,b2}")
        .as[EventStreams.Event]
      val q = EventStreams.runningPerUserTws(input).toDF()
        .writeStream.format("memory").queryName("tws_out")
        .outputMode(OutputMode.Update()).start()
      q.processAllAvailable(); q.stop()
      val finals = spark.table("tws_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._2) }.toSet
      assert(finals === Set((100L, 3L, 7.0), (200L, 2L, 24.0)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("foreachBatch compacted sink governs file sizes and loses nothing") {
    // larger corpus so the compaction policy has something to govern:
    // 120 rows over three drops of 40
    val dir = Files.createTempDirectory("graft-stream-fbc").toString
    val rows = (1 to 120).map(i => (i.toLong, ts(i), i % 7L, "click", i * 1.0, ""))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    df.where($"event_id" <= 40).coalesce(1).write.parquet(s"$dir/b0")
    df.where($"event_id" > 40 && $"event_id" <= 80).coalesce(1).write.parquet(s"$dir/b1")
    df.where($"event_id" > 80).coalesce(1).write.parquet(s"$dir/b2")
    val out = Files.createTempDirectory("graft-fbc-out").toString
    EventStreams.runToCompactedParquet(
      EventStreams.readEventStream(spark, s"$dir/{b0,b1,b2}"), out, targetRowsPerFile = 25L)
    val landed = spark.read.parquet(out)
    // exactly-once: every row landed once
    assert(landed.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      === rows.map(_._1).sorted)
    // file-count governance per batch dir: 40 rows at target 25 → 2
    // files, none over the ceiling
    (0 to 2).foreach { b =>
      val files = new java.io.File(s"$out/batch_id=$b").listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
      assert(files.length === 2, s"batch $b: ${files.length} files")
      files.foreach { f =>
        val n = spark.read.parquet(f.getAbsolutePath).count()
        assert(n <= 25L, s"batch $b: file with $n rows exceeds target")
      }
    }
  }

  test("CoW latest-image merge: LWW survives out-of-order batches, versions accumulate") {
    // b0 carries user 100's NEWER event; b1 its OLDER one (out-of-order
    // across batches) plus user 200; b2 redelivers b0's row verbatim
    val dir = Files.createTempDirectory("graft-stream-lww").toString
    val df = Seq(
      (10L, ts(60), 100L, "purchase", 5.0, ""),
      (2L, ts(10), 100L, "click", 1.0, ""),
      (3L, ts(20), 200L, "view", 2.0, ""),
      (10L, ts(60), 100L, "purchase", 5.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    df.where($"event_id" === 10L && $"event_type" === "purchase").limit(1)
      .coalesce(1).write.parquet(s"$dir/b0")
    df.where($"event_id" < 10L).coalesce(1).write.parquet(s"$dir/b1")
    df.where($"event_id" === 10L).limit(1).coalesce(1).write.parquet(s"$dir/b2")
    new java.io.File(s"$dir/b0").setLastModified(1000000L)
    new java.io.File(s"$dir/b1").setLastModified(2000000L)
    new java.io.File(s"$dir/b2").setLastModified(3000000L)
    val table = Files.createTempDirectory("graft-cow-test").toString
    val fin = EventStreams.runLatestImageMerge(spark, s"$dir/{b0,b1,b2}", table)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    // user 100's older event (id 2) must NOT displace the newer id 10
    assert(fin(100L) === (10L, "purchase"), fin.toString)
    assert(fin(200L) === (3L, "view"))
    // one immutable version per micro-batch landed
    val vs = new java.io.File(table).listFiles().map(_.getName).filter(_.startsWith("v"))
    assert(vs.length >= 2, vs.mkString(","))
    // every version is still readable (time travel): the earliest has
    // at most as many keys as the latest
    val first = spark.read.parquet(s"$table/${vs.sorted.head}").count()
    val last = spark.read.parquet(s"$table/${vs.sorted.last}").count()
    assert(first <= last)
  }

  test("CDC into LakeTable: LWW commits, time travel across batches, replayed commit idempotent") {
    import org.apache.spark.sql.functions.col
    import graft.sources.LakeTable
    val dir = Files.createTempDirectory("graft-lakecdc-src").toString
    val df = Seq(
      (10L, ts(60), 100L, "purchase", 5.0, ""),
      (2L, ts(10), 100L, "click", 1.0, ""),
      (3L, ts(20), 200L, "view", 2.0, ""),
      (10L, ts(60), 100L, "purchase", 5.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // b0: user 100's NEWER event; b1: its OLDER one + user 200; b2: b0 redelivered
    df.where($"event_id" === 10L).limit(1).coalesce(1).write.parquet(s"$dir/b0")
    df.where($"event_id" < 10L).coalesce(1).write.parquet(s"$dir/b1")
    df.where($"event_id" === 10L).limit(1).coalesce(1).write.parquet(s"$dir/b2")
    new java.io.File(s"$dir/b0").setLastModified(1000000L)
    new java.io.File(s"$dir/b1").setLastModified(2000000L)
    new java.io.File(s"$dir/b2").setLastModified(3000000L)
    val table = Files.createTempDirectory("graft-lakecdc-tbl").toString
    val fin = EventStreams.runLatestImageLake(spark, s"$dir/{b0,b1,b2}", table, 100L)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    // out-of-order safe: the older id-2 event never displaces id 10
    assert(fin(100L) === (10L, "purchase"), fin.toString)
    assert(fin(200L) === (3L, "view"))
    // one snapshot per micro-batch; time travel reads v0 as committed
    assert(LakeTable.versions(table).size >= 2)
    val v0 = LakeTable.readVersion(spark, table, LakeTable.versions(table).head)
    assert(v0.count() <= fin.size.toLong)
    // replay batch 0 verbatim: version-pinned overwrite, table unchanged
    val images0 = spark.read.parquet(s"$dir/b0")
      .select(col("user_id"), col("ts").as("last_ts"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"), col("value").as("last_value"))
    LakeTable.commitLatestImageAt(images0, table, "user_id",
      Seq("last_ts", "last_event_id", "last_type", "last_value"), 100L, version = 0L)
    val replayed = LakeTable.readLatest(spark, table)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(replayed === fin)
  }

  private def docStream(dir: String) =
    EventStreams.fileStream(spark, dir, graft.streaming.IngestPipeline.docSchema)

  test("streaming ingest: cross-batch + store dedup, fixed rates, replayed batch idempotent") {
    import org.apache.spark.sql.functions.{col, lit, sha2}
    import graft.streaming.IngestPipeline
    val docs = Seq(
      (1L, "en", "alpha beta gamma"),
      (2L, "en", "delta epsilon"),
      (3L, "en", "stored text"),       // digest pre-seeded in the store
      (5L, "en", "alpha beta gamma"),  // later-batch duplicate of doc 1
      (6L, "fr", "zeta eta theta")
    ).toDF("doc_id", "lang", "text")
    val src = Files.createTempDirectory("graft-ingest-src").toString
    // flat leaf files, timestamp-ordered (the stream lists leaves only)
    Seq(($"doc_id" <= 3, "d0", 1000000L), ($"doc_id" >= 5, "d1", 2000000L))
      .foreach { case (cond, name, t) =>
        docs.where(cond).coalesce(1).write.parquet(s"$src/.stage$name")
        val part = new java.io.File(s"$src/.stage$name").listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(s"$src/$name.parquet")
        assert(part.renameTo(dest))
        dest.setLastModified(t)
      }
    val storeDir = Files.createTempDirectory("graft-ingest-st").toString
    graft.streaming.BatchStore(storeDir).seed(
      Seq("stored text").toDF("text").select(sha2($"text", 256).as("h")))
    // keep-everything policy: the dedup semantics are what's under test
    val rates = Seq(("en", 3L, 1000L), ("fr", 1L, 1000L))
      .toDF("lang", "n_l", "keep_permille")
    val out = Files.createTempDirectory("graft-ingest-o").toString
    val got = IngestPipeline.runIngestStream(spark, docStream(src), storeDir, rates, out,
        targetRowsPerFile = 100L, chunkSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    // doc 3 deduped against the store, doc 5 against doc 1's committed
    // digest; survivors chunked at 8 chars
    assert(got.map(_._1) === Set(1L, 2L, 6L))
    assert(got === Set(
      (1L, 0L, "alpha be"), (1L, 1L, "ta gamma"),
      (2L, 0L, "delta ep"), (2L, 1L, "silon"),
      (6L, 0L, "zeta eta"), (6L, 1L, " theta")))
    // REPLAY batch 0 verbatim (a re-delivered micro-batch): outputs and
    // store commits are keyed by batch id, so nothing changes — in
    // particular batch 0 does NOT dedup against its own b0 digests
    IngestPipeline.ingestBatch(spark.read.parquet(s"$src/d0.parquet"), 0L, storeDir,
      rates, out, targetRowsPerFile = 100L, chunkSize = 8)
    val replayed = spark.read.parquet(out)
      .select(col("doc_id"), col("lang"), col("chunk_idx"), col("chunk"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    assert(replayed === got)
    // the bloom-fronted store scan is EXACT (no false negatives): the
    // same run with the runtime filter on answers identically
    val storeDir2 = Files.createTempDirectory("graft-ingest-st2").toString
    graft.streaming.BatchStore(storeDir2).seed(
      Seq("stored text").toDF("text").select(sha2($"text", 256).as("h")))
    val out2 = Files.createTempDirectory("graft-ingest-o2").toString
    val bloomed = IngestPipeline.runIngestStream(spark, docStream(src), storeDir2, rates, out2,
        targetRowsPerFile = 100L, chunkSize = 8, bloomBits = 1L << 16)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    assert(bloomed === got)
    // store compaction: fold the finalized batch commits into the seed —
    // no batch is left beside it (the store AS OF batch 0 is the whole
    // store), and the NEXT batch dedups identically against it
    val store = graft.streaming.BatchStore(storeDir)
    val digests = store.all(spark).collect().toSet
    val retired = store.compact(spark, through = 1L)
    assert(retired === 2L)
    assert(store.asOf(spark, 0L).collect().toSet === digests)
    // the retired batch dirs are gone: the whole store is the seed alone
    assert(store.all(spark).count() === store.asOf(spark, 0L).count())
    assert(Seq(0, 1).forall(i => !new java.io.File(s"$storeDir/batch_id=$i").exists()))
    val nextBatch = Seq(
      (7L, "en", "alpha beta gamma"),  // dup of compacted doc 1: must still drop
      (8L, "en", "brand new text")
    ).toDF("doc_id", "lang", "text")
    IngestPipeline.ingestBatch(nextBatch, 2L, storeDir, rates, out,
      targetRowsPerFile = 100L, chunkSize = 8)
    val after = spark.read.parquet(out)
      .select(col("doc_id"), col("lang"), col("chunk_idx"), col("chunk"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSet
    assert(after === got ++ Set((8L, 0L, "brand ne"), (8L, 1L, "w text")))
  }

  test("streaming ingest near-dup stage: punctuation variants drop across batches and within one; replay idempotent") {
    import org.apache.spark.sql.functions.{col, sha2}
    import graft.streaming.IngestPipeline
    import graft.operators.Dedup
    val docs = Seq(
      // batch 0: doc 1 is a WHITESPACE variant of the SEEDED corpus
      // doc — different sha256 (digest stage passes), identical raw
      // token stream (every band collides) -> near-dup stage drops
      (1L, "en", "quick  brown fox   jumps high"),
      (2L, "en", "totally novel words appear here"),
      // batch 1: doc 5 is a variant of doc 2 (admitted in batch 0, its
      // bands committed) -> drops vs the GROWN store; docs 6/7 are
      // variants of each other in the SAME batch -> min id admits
      (5L, "en", "totally  novel words appear   here"),
      (6L, "en", "another fresh document entirely different"),
      (7L, "en", "another  fresh document   entirely different")
    ).toDF("doc_id", "lang", "text")
    val src = Files.createTempDirectory("graft-nd-src").toString
    Seq(($"doc_id" <= 2, "d0", 1000000L), ($"doc_id" >= 5, "d1", 2000000L))
      .foreach { case (cond, name, t) =>
        docs.where(cond).coalesce(1).write.parquet(s"$src/.stage$name")
        val part = new java.io.File(s"$src/.stage$name").listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(s"$src/$name.parquet")
        assert(part.renameTo(dest))
        dest.setLastModified(t)
      }
    val storeDir = Files.createTempDirectory("graft-nd-st").toString
    graft.streaming.BatchStore(storeDir).seed(
      Seq("unrelated seed digest").toDF("text").select(sha2($"text", 256).as("h")))
    val bandDir = Files.createTempDirectory("graft-nd-bs").toString
    graft.streaming.BatchStore(bandDir).seed(
      Dedup.bandKeys(Seq((100L, "quick brown fox jumps high")).toDF("doc_id", "text"))
        .select(col("band"), col("bh")))
    val rates = Seq(("en", 5L, 1000L)).toDF("lang", "n_l", "keep_permille")
    val out = Files.createTempDirectory("graft-nd-o").toString
    val got = IngestPipeline.runIngestStream(spark, docStream(src), storeDir, rates, out,
        targetRowsPerFile = 100L, chunkSize = 64, bandStoreDir = Some(bandDir))
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(2L, 6L))
    // replayed batch 0 sees both stores AS OF batch 0 and overwrites
    // its own commits: the landed corpus is unchanged
    IngestPipeline.ingestBatch(spark.read.parquet(s"$src/d0.parquet"), 0L, storeDir,
      rates, out, targetRowsPerFile = 100L, chunkSize = 64, bandStoreDir = Some(bandDir))
    val replayed = spark.read.parquet(out).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(replayed === Set(2L, 6L))
  }

  test("streaming ingest heals a band store left between its compaction renames") {
    import org.apache.spark.sql.functions.{col, sha2}
    import graft.streaming.IngestPipeline
    import graft.operators.Dedup
    // a crash between BatchStore.compact's two renames leaves no seed and a
    // complete .seed_next: the batch must finish the swap, then dedup
    // against it (doc 1 is a whitespace variant of the band seed's doc)
    val storeDir = Files.createTempDirectory("graft-heal-st").toString
    Seq("unrelated seed digest").toDF("text").select(sha2($"text", 256).as("h"))
      .write.parquet(s"$storeDir/seed")
    val bandDir = Files.createTempDirectory("graft-heal-bs").toString
    Dedup.bandKeys(Seq((100L, "quick brown fox jumps high")).toDF("doc_id", "text"))
      .select(col("band"), col("bh")).write.parquet(s"$bandDir/.seed_next")
    val batch = Seq((1L, "en", "quick  brown fox   jumps high"),
      (2L, "en", "totally novel words appear here")).toDF("doc_id", "lang", "text")
    val rates = Seq(("en", 2L, 1000L)).toDF("lang", "n_l", "keep_permille")
    val out = Files.createTempDirectory("graft-heal-o").toString
    IngestPipeline.ingestBatch(batch, 0L, storeDir, rates, out,
      targetRowsPerFile = 100L, chunkSize = 64, bandStoreDir = Some(bandDir))
    assert(new java.io.File(s"$bandDir/seed").isDirectory)
    assert(!new java.io.File(s"$bandDir/.seed_next").exists())
    assert(spark.read.parquet(out).select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet === Set(2L))
  }

  test("streaming ANN ingest: grown index == batch append, replay idempotent, OOD batch flags rebuild") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val base = emb.where(col("vec_id") % 7 =!= 3)
    val batch = emb.where(col("vec_id") % 7 === 3)
    val dir = Files.createTempDirectory("graft-annstream-spec").toString
    val idx = Similarity.ivfPqBuild(base, step = 10)
    Similarity.ivfPqWrite(idx, dir)
    Similarity.cellResidualEnergy(idx, base).write.mode("overwrite").parquet(s"$dir/baseline")
    // two mtime-ordered drops
    val src = Files.createTempDirectory("graft-annstream-src").toString
    val p0 = batch.where(col("vec_id") % 2 === 0)
    val p1 = batch.where(col("vec_id") % 2 =!= 0)
    p0.coalesce(1).write.parquet(s"$src/p0")
    p1.coalesce(1).write.parquet(s"$src/p1")
    val drift = graft.streaming.VectorIngest.runAnnIngest(
      spark, s"$src/{p0,p1}", dir)
    // in-distribution drops: the rebuild trigger must stay quiet
    assert(drift.count() > 0)
    assert(drift.where(col("rebuild")).isEmpty, "in-distribution batch flagged a rebuild")
    // the grown index answers EXACTLY what the batch append path answers
    val queries = emb.where(col("vec_id") % 70 === 3)
    def answers(i: Similarity.IvfPqIndex) = Similarity.ivfPqQuery(i, queries, emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val streamed = answers(Similarity.ivfPqReadGrown(spark, dir))
    val batched = answers(Similarity.ivfPqAppend(idx, batch))
    assert(streamed === batched)
    // replay: re-running a batch overwrites its own commit — no growth
    val cellsBefore = Similarity.ivfPqReadGrown(spark, dir).cells.count()
    graft.streaming.VectorIngest.annIngestBatch(p0, 0L, dir)
    assert(Similarity.ivfPqReadGrown(spark, dir).cells.count() === cellsBefore)
    assert(answers(Similarity.ivfPqReadGrown(spark, dir)) === batched)
    // an out-of-distribution drop (constant-offset mode) flags rebuild
    val ood = batch.select((col("vec_id") + 500000L).as("vec_id"),
      transform(col("embedding"), x => (x + lit(3.0f)).cast("float")).as("embedding"))
    graft.streaming.VectorIngest.annIngestBatch(ood, 99L, dir)
    val d99 = graft.streaming.VectorIngest.grown(dir).all(spark, "drift")
      .where(col("batch_id") === 99L)
    assert(d99.where(col("rebuild")).count() > 0, "OOD drop did not flag a rebuild")
    // rewriting the index drops the batches the stream grew it by, so a
    // new drain into the same dir opens instead of failing
    Similarity.ivfPqWrite(idx, dir)
    assert(Similarity.ivfPqReadGrown(spark, dir).cells.count() ===
      spark.read.parquet(s"$dir/cells").count())
    assert(graft.streaming.VectorIngest.runAnnIngest(spark, s"$src/{p0}", dir).count() > 0)
  }

  /** A source dir of one flat parquet file per part, modification times
    * in part order, so a file stream drains it one part per batch. */
  private def dropDir(parts: org.apache.spark.sql.DataFrame*): String = {
    val src = Files.createTempDirectory("graft-drops").toString
    parts.zipWithIndex.foreach { case (part, i) =>
      part.coalesce(1).write.parquet(s"$src/.stage$i")
      val file = new java.io.File(s"$src/.stage$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$src/d$i.parquet")
      assert(file.renameTo(dest))
      dest.setLastModified((i + 1) * 1000000L)
    }
    src
  }

  test("a drain into a used landing answers for its own batches; a used store fails") {
    import org.apache.spark.sql.functions.{col, sha2}
    import graft.streaming.{BatchStore, IngestPipeline}
    // docs 21..30 are long, so their frontier outranks every other doc
    val docs = (1L to 50L).map(i =>
        (i, "en", s"doc $i " + "w" * (if (i > 20 && i <= 30) 500 else 1 + (i % 11).toInt)))
      .toDF("doc_id", "lang", "text")
    def part(lo: Long, hi: Long) = docs.where(col("doc_id").between(lo, hi))
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect().toSeq
    val out = Files.createTempDirectory("graft-stale-land").toString
    IngestPipeline.runPrioritySampleIngest(spark,
      docStream(dropDir(part(1, 10), part(11, 20), part(21, 30))), out, k = 3).collect()
    // the second drain lands batches 0 and 1 only: the first drain's
    // batch 2 must not join its finish
    val got = IngestPipeline.runPrioritySampleIngest(spark,
      docStream(dropDir(part(31, 40), part(41, 50))), out, k = 3)
    assert(rows(got) === rows(graft.operators.Corpus.prioritySample(part(31, 50), k = 3)))
    // a store with history is never cleared: a second drain into it fails
    // and names it, instead of renumbering over the first drain's batches
    val storeDir = Files.createTempDirectory("graft-stale-store").toString
    BatchStore(storeDir).seed(Seq("seeded").toDF("text").select(sha2(col("text"), 256).as("h")))
    val rates = Seq(("en", 50L, 1000L)).toDF("lang", "n_l", "keep_permille")
    def ingest() = IngestPipeline.runIngestStream(spark, docStream(dropDir(part(1, 5))),
      storeDir, rates, Files.createTempDirectory("graft-stale-out").toString,
      targetRowsPerFile = 100L)
    assert(ingest().count() > 0L)
    val e = intercept[IllegalArgumentException](ingest())
    assert(e.getMessage.contains(storeDir), e.getMessage)
  }

  test("BatchStore: every store kind survives a cut batch, a replay and a cut compaction") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, Similarity}
    import graft.streaming.{BatchStore, IngestPipeline, VectorIngest}
    def tmp(prefix: String) = Files.createTempDirectory(prefix).toString
    def emptyOf(ddl: String) = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(ddl))
    val docs = Seq(
      (1L, "en", "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "en", "iota kappa lambda mu nu xi omicron pi rho"),
      (3L, "en", "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "fr", "sigma tau upsilon phi chi psi omega alpha")).toDF("doc_id", "lang", "text")
    val batches = Seq(docs.where($"doc_id" <= 2L), docs.where($"doc_id" > 2L))
    // every kind is grown by its own batch function over batches 0 and 1
    val (digestDir, bandDir, chunkDir) = (tmp("cut-digest"), tmp("cut-band"), tmp("cut-chunks"))
    BatchStore(digestDir).seed(Seq("seeded").toDF("text").select(sha2($"text", 256).as("h")))
    BatchStore(bandDir).seed(Dedup.bandKeys(Seq((100L, "a seeded band document")).toDF("doc_id", "text"))
      .select($"band", $"bh"))
    val rates = Seq(("en", 3L, 1000L), ("fr", 1L, 1000L)).toDF("lang", "n_l", "keep_permille")
    def ingest(id: Int): Unit = IngestPipeline.ingestBatch(batches(id), id.toLong, digestDir, rates,
      chunkDir, targetRowsPerFile = 100L, chunkSize = 8, bandStoreDir = Some(bandDir))
    val (paraDir, paraOut) = (tmp("cut-para"), tmp("cut-paraout"))
    BatchStore(paraDir).seed(spark.range(0).select($"id".as("ph")))
    def para(id: Int): Unit = IngestPipeline.paraIngestBatch(batches(id)
      .select($"doc_id", posexplode(split($"text", " ", 3)).as(Seq("pos", "para"))),
      id.toLong, paraDir, paraOut)
    val (fpDir, fpOut) = (tmp("cut-fp"), tmp("cut-fpout"))
    BatchStore(fpDir).seed(emptyOf("doc_id BIGINT, fp BIGINT"))
    def winnow(id: Int): Unit =
      IngestPipeline.winnowBatch(batches(id), id.toLong, fpDir, fpOut, minShared = 1)
    val (cubeDir, cardDir) = (tmp("cut-cube"), tmp("cut-card"))
    BatchStore(cardDir).seed(emptyOf("h STRING"))
    def card(id: Int): Unit = IngestPipeline.cardBatch(
      batches(id).withColumn("source", lit("web")), id.toLong, cubeDir, cardDir)
    // 500 deterministic 64-dim vectors
    val emb = spark.range(500).select(col("id").as("vec_id"), expr(
      "transform(sequence(1, 64), j -> CAST(sin(id * 0.37 + j * 1.3) + cos(id * j * 0.011) AS FLOAT))")
      .as("embedding"))
    val annDir = tmp("cut-ann")
    val idx = Similarity.ivfPqBuild(emb.where(col("vec_id") % 7 =!= 3), step = 10)
    Similarity.ivfPqWrite(idx, annDir)
    Similarity.cellResidualEnergy(idx, emb.where(col("vec_id") % 7 =!= 3))
      .write.parquet(s"$annDir/baseline")
    def ann(id: Int): Unit = VectorIngest.annIngestBatch(
      emb.where(col("vec_id") % 7 === 3 && col("vec_id") % 2 === id), id.toLong, annDir)
    Seq[Int => Unit](ingest, para, winnow, card, ann).foreach(f => { f(0); f(1) })

    final case class Kind(name: String, store: BatchStore, relations: Seq[String],
                          replay: () => Unit)
    val kinds = Seq(
      Kind("digest", BatchStore(digestDir), Seq(""), () => ingest(1)),
      Kind("band", BatchStore(bandDir), Seq(""), () => ingest(1)),
      Kind("landing", BatchStore(chunkDir), Seq(""), () => ingest(1)),
      Kind("paragraph", BatchStore(paraDir), Seq(""), () => para(1)),
      Kind("fingerprint", BatchStore(fpDir), Seq(""), () => winnow(1)),
      Kind("cube", BatchStore(cubeDir), Seq(""), () => card(1)),
      Kind("vector index", VectorIngest.grown(annDir), Seq("cells", "codes", "drift"), () => ann(0)))
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    def path(stage: String, relation: String) = if (relation.isEmpty) stage else s"$stage/$relation"
    // every relation whole, and a single-relation store AS OF batch 1
    def snapshot(k: Kind) = k.relations.map(r => rows(k.store.all(spark, r))) ++
      (if (k.relations == Seq("")) Seq(rows(k.store.asOf(spark, 1L))) else Nil)
    kinds.foreach { k =>
      val before = snapshot(k)
      assert(before.forall(_.nonEmpty), s"${k.name}: no rows to guard")
      // a batch cut partway: its first relation is written whole, then
      // the next one (a vector batch's codes) throws through raise_error
      val cut = intercept[Exception](k.store.write(2L) { stage =>
        val first = k.relations.head
        val last = k.relations.drop(1).headOption.getOrElse(first)
        k.store.all(spark, first).write.parquet(path(stage, first))
        val rel = k.store.all(spark, last)
        val c = rel.columns.head
        rel.withColumn(c, when(lit(true), raise_error(lit("cut batch"))).otherwise(col(c)))
          .write.mode("append").parquet(path(stage, last))
      })
      assert(Iterator.iterate[Throwable](cut)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("cut batch")), cut.toString)
      assert(snapshot(k) === before, s"${k.name}: a cut batch changed the store")
      k.replay()
      assert(snapshot(k) === before, s"${k.name}: a replay changed the store")
    }
    // a compaction cut between its two renames: `.seed_next` holds the
    // merged store, the old seed is set aside, and no seed dir exists.
    // The first read completes the swap (compaction merges with
    // distinct, and the merged batches are retired only after the
    // swap, so the store keeps its distinct rows)
    kinds.foreach { k =>
      val dir = k.store.dir
      val before = k.relations.map(r => rows(k.store.all(spark, r)).distinct)
      k.relations.foreach(r =>
        k.store.all(spark, r).distinct().write.parquet(path(s"$dir/.seed_next", r)))
      val seed = new java.io.File(s"$dir/seed")
      if (seed.exists()) assert(seed.renameTo(new java.io.File(s"$dir/.seed_old")))
      assert(k.relations.map(r => rows(k.store.all(spark, r)).distinct) === before,
        s"${k.name}: the healed store lost rows")
      assert(seed.isDirectory && !new java.io.File(s"$dir/.seed_next").exists() &&
        !new java.io.File(s"$dir/.seed_old").exists(), s"${k.name}: not healed")
    }
    // the grown index reads its healed batches too
    assert(Similarity.ivfPqReadGrown(spark, annDir).cells.distinct().count() ===
      emb.count())
  }

  test("mapGroupsWithState running totals match a direct fold") {
    val dir = Files.createTempDirectory("graft-stream2").toString
    writeBatches(dir)
    val input = EventStreams.readEventStream(spark, s"$dir/{b0,b1,b2}")
      .as[EventStreams.Event]
    val updates = EventStreams.runningPerUser(input).toDF()
    val q = updates.writeStream.format("memory").queryName("running_out")
      .outputMode(OutputMode.Update()).start()
    q.processAllAvailable(); q.stop()
    // final snapshot per user = the row with the max event count
    val finals = spark.table("running_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (u, rows) => rows.maxBy(_._2) }.toSet
    assert(finals === Set((100L, 3L, 7.0), (200L, 2L, 24.0)))
  }

  test("crawl admission: verdicts correct per stage; replaying into the same landing dir idempotent") {
    import org.apache.spark.sql.functions._
    import graft.operators.Html
    val src = Files.createTempDirectory("adm-src").toString
    // two hosts, tracking params that must canonicalize away, one
    // duplicate fetch key across variants
    Seq(
      "https://h0.example.com/doc/1?utm_source=x&a=1",
      "https://h0.example.com/doc/1?a=1&gclid=g7",     // same key as above
      "https://h0.example.com/doc/2?a=1",
      "https://h1.example.com/doc/3?a=1&fbclid=f1")
      .toDF("url").coalesce(1).write.parquet(s"$src/b0")
    def stream() = spark.readStream.schema("url STRING")
      .option("maxFilesPerTrigger", "1").parquet(s"$src/{b0}")
    val block = Seq(("h1.example.com", "")).toDF("host", "prefix")
    val robots = Html.robotsRules(
      Seq(("h0.example.com", "User-agent: *\nDisallow: /doc/1\n")).toDF("host", "content"))
    val land = Files.createTempDirectory("adm-land").toString
    val r1 = graft.streaming.IngestPipeline
      .runCrawlAdmission(spark, stream(), block, robots, land)
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(4),
        r.getBoolean(6))).toSet
    // canonical dedup collapsed the two /doc/1 variants to ONE key;
    // robots kills /doc/1, the blocklist kills h1, /doc/2 is admitted
    assert(r1 === Set(
      ("https://h0.example.com/doc/1?a=1", false, false, false),
      ("https://h0.example.com/doc/2?a=1", false, true, true),
      ("https://h1.example.com/doc/3?a=1", true, true, false)))
    // a fresh checkpoint replays every batch into the SAME landing
    // dir — and a STALE batch dir from a prior run with more batches
    // (planted here as batch_id=99) must not survive into the rerun's
    // read: the landing dir is cleared at stream start, so idempotency
    // does not depend on the rerun reproducing the prior batch count
    val stale = spark.read.parquet(s"$land/batch_id=0").limit(1)
      .withColumn("url", lit("https://stale.example.com/x"))
    stale.write.mode("overwrite").parquet(s"$land/batch_id=99")
    val r2 = graft.streaming.IngestPipeline
      .runCrawlAdmission(spark, stream(), block, robots, land)
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(4),
        r.getBoolean(6))).toSet
    assert(r2 === r1)
  }
}
