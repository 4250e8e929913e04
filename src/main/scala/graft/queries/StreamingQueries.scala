package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.LakeTable
import graft.streaming.{BatchStore, EventStreams}
import graft.plans.Lineage.TruncateOps
import graft.QuerySpec.Q
import graft.SparkEntry._
import graft.queries.Twins._

/** Structured Streaming (micro-batched file sources whose result must
  * equal the batch twin's), then the data-skipping scans and the
  * ORC, XML and binary-file sources. */
object StreamingQueries {
  val specs: Seq[QuerySpec] = Seq(
    // the anomaly tripwire, streamed: the STREAM maintains only
    // watermark-bounded per-(type, day) counters; the cross-day
    // lookback math runs on the tiny finished daily relation — so the
    // batch oracle serves unchanged
    Q("streaming_rolling_anomaly", (s, d) => {
      Series.scoreDailyAnomalies(streamedDaily(s, d, "")).orderBy("key", "day")
    })(
      // the streaming path converges to the identical daily relation
      // (watermarked 1-day windows), so one twin serves both
      rollingAnomalyTwin),
    // the grow/decay screen over the SAME streamed daily relation
    Q("streaming_trend", (s, d) => {
      Series.trendFromDaily(streamedDaily(s, d, "_t")).orderBy("key")
    })(
      // streaming daily relation converges to the batch one exactly
      trendSlopesTwin),
    // the WHEN-did-it-change monitor over the same streamed daily
    // relation: CUSUM peak math on the finished (key, day, n) rows —
    // the stream holds only watermark-bounded daily counters, so the
    // batch change_points oracle serves unchanged
    Q("streaming_change_points", (s, d) => {
      Series.changePointsFromDaily(streamedDaily(s, d, "_cp")).orderBy("key")
    })(
      // same streamed-daily convergence: the CUSUM monitor's stream
      // maintains only the (key, day, n) counters the batch twin builds
      // in its first CTE
      changePointsTwinSql),
    // the decomposition monitor joins the streamed feed-health family
    // (trend/anomaly/change-point): watermark-bounded per-(key, day)
    // counters in the stream, the micro-integer STL finish on the
    // finished daily relation — the batch twin serves unchanged
    Q("streaming_stl", (s, d) => {
      Series.stlFromDaily(streamedDaily(s, d, "_stl")).orderBy("key", "day")
    })(
      // the streamed daily relation converges to the batch one — the
      // micro-integer STL twin serves unchanged
      stlTwinSql),
    // behavior-shift monitor, streamed: per-(user, day) ordered
    // type sequences frozen by sort_array inside the stream's state
    // (bounded by a user's DAILY activity; day-close eviction under
    // append+watermark at scale), Markov counts on the finished
    // relation. Day-bounded adjacency BY DESIGN — day-crossing pairs
    // excluded on both engines — so this carries its own twin rather
    // than sharing event_transitions' whole-history one
    Q("streaming_event_transitions", (s, d) => {
      val tmp = stageEvents(s, d, copies = 1, filesPerCopy = 4)
      val ss = streamSession(s)
      val seqs = EventStreams.dailyTypeSeqs(EventStreams.readEventStream(ss, tmp))
      val finished = EventStreams.runToMemory(ss, seqs,
        s"stream_seqs_${System.nanoTime()}")
      EventStreams.transitionsFromSeqs(finished)
        .orderBy("prev_type", "event_type")
    })(
      // DAY-BOUNDED transitions (the streaming monitor's deliberate
      // grain): lag partitioned by (user, day) — day-crossing pairs
      // excluded, exactly as the per-day sequence lists exclude them
      """WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS tsu FROM events),
        | o AS (SELECT user_id, event_type,
        |        lag(event_type) OVER (PARTITION BY user_id, CAST(tsu AS DATE) ORDER BY tsu, event_id) AS prev_type FROM e),
        | c AS (SELECT prev_type, event_type, count(*) AS n FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, event_type, n,
        | round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p
        |FROM c ORDER BY prev_type, event_type""".stripMargin),
    // token-distribution drift, streamed: the stream's state is the
    // per-word (c_old, c_new) counter pair — vocabulary-sized, the
    // same bound as the batch aggregate's hashmap — and the smoothed
    // KL finish runs on the finished counts, so the batch
    // corpus_drift oracle serves unchanged
    Q("streaming_corpus_drift", (s, d) => {
      val (ss, docs) = docStream(s, d)
      val ws = TextOps.cleanTokens(col("text"))
      val toks = docs.select((col("doc_id") % 2 === 1).as("is_new"),
        explode(ws).as("word"))
      val m = toks.groupBy(col("word")).agg(
        count(when(!col("is_new"), 1)).as("c_old"),
        count(when(col("is_new"), 1)).as("c_new"))
      val finished = EventStreams.runToMemory(ss, m,
        s"stream_drift_${System.nanoTime()}")
      TextQuality.driftFromCounts(finished)
    })(
      // the streamed drift monitor maintains exactly the (word, c_old,
      // c_new) counters the batch twin's m CTE builds — one twin, both
      // paths
      corpusDriftTwin),
    Q("streaming_tumbling_agg", (s, d) => {
      val tmp = stageEvents(s, d, copies = 1, filesPerCopy = 4)
      val ss = streamSession(s)
      val streamed = EventStreams.tumblingCounts(EventStreams.readEventStream(ss, tmp))
      EventStreams.runToMemory(ss, streamed, s"stream_tumbling_${System.nanoTime()}")
        .orderBy("win_start", "event_type")
    })(
      // the streaming pipeline must converge to the identical batch answer
      tumblingAggTwinSql),
    Q("streaming_sliding_agg", (s, d) => {
      val tmp = stageEvents(s, d, copies = 1, filesPerCopy = 4)
      val ss = streamSession(s)
      val streamed = EventStreams.slidingCounts(EventStreams.readEventStream(ss, tmp))
      EventStreams.runToMemory(ss, streamed, s"stream_sliding_${System.nanoTime()}")
        .orderBy("win_start")
    })(slidingAggTwinSql),
    Q("streaming_session_agg", (s, d) => {
      val tmp = stageEvents(s, d, copies = 1, filesPerCopy = 4)
      val ss = streamSession(s)
      val streamed = EventStreams.sessionize(EventStreams.readEventStream(ss, tmp))
      EventStreams.runToMemory(ss, streamed, s"stream_session_${System.nanoTime()}")
        .orderBy("user_id", "session_start")
    })(
      // the streaming session pipeline converges to the identical batch answer
      sessionAggTwinSql),
    // stream-stream interval join, Append mode; converges to the batch
    // interval_join, so it shares that oracle. The watermark is pinned
    // far beyond the corpus span (like streaming_dedup): exactness must
    // not depend on how the source files split across micro-batches —
    // with a 2h watermark, clicks arriving a batch behind their
    // purchases could be dropped as late and silently break the shared
    // oracle.
    Q("streaming_interval_join", (s, d) => {
      val tmp = stageEvents(s, d, copies = 1, filesPerCopy = 4)
      val ss = streamSession(s)
      val streamed = EventStreams.clickPurchaseJoin(EventStreams.readEventStream(ss, tmp),
        watermark = "365 days")
      EventStreams.runToMemory(ss, streamed, s"stream_ssjoin_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy("purchase_id", "click_id")
    })(
      // the stream-stream join converges to the identical batch answer,
      // so it shares the literal same oracle
      IntervalJoinSql),
    // stream-stream LEFT OUTER interval join: unmatched purchases
    // surface with NULL click ids from state EVICTION after the
    // sentinel flush event pushes both watermarks past the corpus (the
    // watermark delay still exceeds the corpus span, so no REAL event
    // is ever late regardless of file order). Converges to the batch
    // LEFT JOIN — its own oracle below.
    Q("streaming_interval_left_join", (s, d) => {
      val tmp = stageEventsWithFlush(s, d)
      val ss = streamSession(s)
      val streamed = EventStreams.clickPurchaseLeftJoin(EventStreams.readEventStream(ss, tmp),
        watermark = "365 days")
      EventStreams.runToMemory(ss, streamed, s"stream_ssljoin_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append())
        .where(col("user_id") =!= -1L) // drop the sentinel's own pair
        .orderBy("purchase_id", "click_id")
    })(
      // LEFT JOIN twin of the interval join: the unmatched purchases
      // carry NULL click_id — exactly the rows streaming eviction emits
      """WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS tsu FROM events)
        |SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
        |FROM (SELECT * FROM e WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') c
        | ON c.user_id = p.user_id
        | AND c.tsu >= p.tsu - INTERVAL '30 minutes' AND c.tsu <= p.tsu
        |ORDER BY purchase_id, click_id""".stripMargin),
    // streaming ANN ingest: embedding drops folded into the PERSISTED
    // IVF×PQ index per micro-batch (frozen geometry, batch-keyed
    // cells/codes commits, drift decisions recorded against the
    // build-time baseline). Output = queries answered by the GROWN
    // index — rows-only (approximate ANN); batch≡streaming equality
    // and replay idempotence are StreamingSpec's
    Q("streaming_ann_ingest", (s, d) => {
      val emb = t(s, d).embeddings.select(col("vec_id"), col("embedding"))
      val dir = annIngested(s, d, emb, "graft-annstream")
      Similarity.ivfPqQuery(Similarity.ivfPqReadGrown(s, dir),
          emb.where(col("vec_id") % 70 === 3), emb)
        .orderBy("q_id", "rank")
    })(
      ivfPqQueryTwinSql(" AND vec_id % 7 <> 3", " AND vec_id % 7 <> 3", "vec_id % 70 = 3")),
    // the streaming ingest's EXACT invariant, hash-checked: after the
    // stream drains, the grown index's CELLS relation must hold every
    // seed AND ingested vector exactly once, each assigned to its
    // cosine-argmax stride centroid — frozen geometry makes the whole
    // relation derivable relationally, so lost batches, replays that
    // double-commit, or a drifted assignment all unhash it. The
    // approximate part (PQ codes → query answers) stays
    // streaming_ann_ingest's (rows-only) and StreamingSpec's
    Q("streaming_ann_cells", (s, d) => {
      val emb = t(s, d).embeddings.select(col("vec_id"), col("embedding"))
      val dir = annIngested(s, d, emb, "graft-anncells")
      Similarity.ivfPqReadGrown(s, dir).cells
        .select(col("vec_id"), col("cell")).orderBy("vec_id")
    })(
      // the frozen-geometry cells relation is pure cosine argmax — any
      // lost batch, double-commit replay, or drifted assignment unhashes
      s"""WITH cents AS (SELECT vec_id AS cell, embedding AS ce
         |               FROM embeddings WHERE vec_id % 10 = 0${coarseGuardOn("embeddings", " AND vec_id % 7 <> 3")} AND vec_id % 7 <> 3),
        | sims AS (SELECT e.vec_id, c.cell,
        |   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.ce AS DOUBLE[])) AS sim
        |   FROM embeddings e CROSS JOIN cents c)
        |SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
        |  FROM sims) z
        |WHERE rn = 1 ORDER BY vec_id""".stripMargin),
    // streaming exact dedup: the source dir carries every event TWICE
    // (a simulated at-least-once redelivery); the deduped stream must
    // equal the single-copy batch table exactly
    Q("streaming_dedup", (s, d) => {
      // source dir carries every event TWICE (2 copies × 2 files)
      val tmp = stageEvents(s, d, copies = 2, filesPerCopy = 2)
      // delay >> the corpus's ~30-day span: nothing may be dropped as
      // late, or the exact-equality oracle breaks
      val ss = streamSession(s)
      val deduped = EventStreams.dedupEvents(EventStreams.readEventStream(ss, tmp),
        watermark = "365 days")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      EventStreams.runToMemory(ss, deduped, s"stream_dedup_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy("event_id")
    })(
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin),
    // stream-static enrichment: the event stream broadcast-joined to
    // the static customer dimension each micro-batch (no join state),
    // rolled up per day × market segment; converges to the identical
    // batch join+agg, which is the oracle
    Q("streaming_static_join", (s, d) => {
      val tmp = stageEvents(s, d, copies = 1, filesPerCopy = 4)
      val ss = streamSession(s)
      val dim = t(ss, d).customer.select(col("c_custkey"), col("c_mktsegment"))
      val streamed = EventStreams.enrichedSegmentCounts(
        EventStreams.readEventStream(ss, tmp), dim)
      EventStreams.runToMemory(ss, streamed, s"stream_enrich_${System.nanoTime()}")
        .orderBy("win_start", "c_mktsegment")
    })(
      // stream-static enrichment converges to the identical batch
      // join+agg (the static side carries no streaming state)
      """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS win_start, c_mktsegment,
        | count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY win_start, c_mktsegment ORDER BY win_start, c_mktsegment""".stripMargin),
    // bounded heavy-hitter state: a per-user Misra-Gries summary held
    // in typed transformWithState state (RocksDB provider), folded
    // across micro-batches; capacity 8 ≥ the 5 distinct event types,
    // so the drained stream equals the batch group-count top-1 exactly
    Q("streaming_state_topk", (s, d) => {
      val tmp = stageEvents(s, d, copies = 1, filesPerCopy = 4)
      val ss = streamSession(s, stateStore = Some(RocksDbStateStore))
      import ss.implicits._
      val stream = EventStreams.readEventStream(ss, tmp).as[EventStreams.Event]
      val snaps = EventStreams.topTypePerUser(stream, capacity = 8).toDF()
      val table = EventStreams.runToMemory(ss, snaps,
        s"stream_topk_${System.nanoTime()}",
        org.apache.spark.sql.streaming.OutputMode.Update())
      // Update mode appends one snapshot per touched user per batch;
      // the final answer is each user's LATEST snapshot (n_seen is
      // strictly monotone per user, so argmax is unique)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(desc("n_seen"))
      table.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
        .select(col("user_id"), col("top_type"), col("n_top"))
        .orderBy("user_id")
    })(
      // capacity ≥ distinct types makes the Misra-Gries summary exact,
      // so the streaming state answer is the batch top-1 per user
      """WITH counts AS (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2),
        | ranked AS (SELECT user_id, event_type, n,
        |   row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rn
        |   FROM counts)
        |SELECT user_id, event_type AS top_type, n AS n_top FROM ranked WHERE rn = 1
        |ORDER BY user_id""".stripMargin),
    // streaming ingest through the size-governed sink: micro-batches
    // land replay-idempotent AND compacted (foreachBatch +
    // Sinks.writeCompacted), then the landed table is aggregated — the
    // whole loop (stream → sink → scan) must reproduce the batch answer
    Q("streaming_compacted_sink", (s, d) => {
      val tmp = stageEvents(s, d, copies = 1, filesPerCopy = 4)
      val ss = streamSession(s)
      val out = java.nio.file.Files.createTempDirectory("graft-fbc-sink").toString
      EventStreams.runToCompactedParquet(
        EventStreams.readEventStream(ss, tmp).where(col("event_type") === "purchase"),
        out, targetRowsPerFile = 5000L)
      s.read.parquet(out)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), graft.functions.dsum2(col("value")).as("sum_value"))
        .orderBy("user_id")
    })(
      // stream → compacted sink → scan must reproduce the plain batch agg
      """SELECT user_id, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
    // the CONTINUOUS corpus-ingest pipeline e2e: a 4-file document
    // stream → per-batch min-id dedup → anti-join against the growing
    // persisted digest store (seeded with the even-id history) →
    // FIXED-rate temperature resample (policy from the full-corpus
    // profile) → chunking → compacted batch_id-keyed landing. Drained
    // with the files in doc_id order, the union of landings equals the
    // one-shot batch pipeline, which is the oracle
    // the session's curation stages composed under ONE hash: dirt →
    // Luhn scrub → NFC → weight-biased priority sample → curriculum
    // shard assignment — each stage proven alone elsewhere; this
    // proves they compose
    Q("clean_curate_e2e", (s, d) => {
      val fx = t(s, d).documents.select(col("doc_id"),
        concat(col("text"), Cleaning.cardFixtureSuffix(col("doc_id")),
          nfcSuffixCol(col("doc_id"))).as("text"))
      val cleaned = Cleaning.scrubCards(fx)
        .select(col("doc_id"), graft.functions.NfcNormalize.nfc(col("clean")).as("text"))
      val sampled = Corpus.prioritySample(cleaned, k = 100).truncateLineage
      val shards = Corpus.curriculumShards(
        sampled.select(col("doc_id"), col("weight").as("score")), phases = 4, nShards = 4,
        sizeHint = Some(101L)) // priority sample ≤ k+1 rows by contract
      sampled.join(shards.select(col("doc_id"), col("phase"), col("shard"), col("seq")), "doc_id")
        .orderBy("doc_id")
    })(
      // every stage's twin chained: scrub CTEs → nfc clean → priority
      // keys/threshold → curriculum histogram/phases — one hash
      s"""${cardScrubCtes(s"WITH fx AS (SELECT doc_id, text || $CardSuffixSql || $NfcSuffixSql AS text FROM documents)")},
         | cl AS (SELECT doc_id, nfc_normalize(list_reduce(list_prepend(text, valids), (a, b) -> replace(a, b, '<CARD>'))) AS text FROM v),
         | keyed AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS weight,
         |    greatest(CAST(floor((CASE WHEN (((doc_id % 2147483648) * 2654435761) % 4294967296) = 0 THEN 4294967296 ELSE (((doc_id % 2147483648) * 2654435761) % 4294967296) END) * 1048576
         |         / CAST(length(text) AS DOUBLE)) AS BIGINT), 1) AS pkey
         |   FROM cl WHERE length(text) > 0),
         | top AS (SELECT * FROM keyed ORDER BY pkey, doc_id LIMIT 101),
         | ranked AS (SELECT top.*, row_number() OVER (ORDER BY pkey, doc_id) AS rn FROM top),
         | stats AS (SELECT count(*) AS cnt, max(pkey) AS mx FROM top),
         | samp AS (SELECT doc_id, weight,
         |   round(greatest(CAST(weight AS DOUBLE),
         |     CASE WHEN (SELECT cnt FROM stats) = 101
         |          THEN 4503599627370496.0 / CAST((SELECT mx FROM stats) AS DOUBLE)
         |          ELSE 0.0 END), 6) AS w_est
         |  FROM ranked WHERE (SELECT cnt FROM stats) <= 100 OR rn <= 100),
         | sc AS (SELECT doc_id, weight AS score FROM samp),
         | h AS (SELECT score, count(*) AS cnt FROM sc GROUP BY 1),
         | r AS (SELECT score,
         |   coalesce(sum(cnt) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnt_below,
         |   sum(cnt) OVER () AS n FROM h),
         | pr AS (SELECT score, CASE WHEN n = 1 THEN 0.0
         |        ELSE CAST(cnt_below AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS pr FROM r),
         | j AS (SELECT sc.doc_id, sc.score,
         |   CAST(least(3, floor(pr.pr * 4)) AS BIGINT) AS phase,
         |   CAST((((sc.doc_id % 2147483648) * 2654435761) % 4294967296) % 4 AS BIGINT) AS shard,
         |   (((sc.doc_id % 2147483648) * 2654435761) % 4294967296) AS ord
         |  FROM sc JOIN pr USING (score))
         |SELECT samp.doc_id, samp.weight, samp.w_est, j.phase, j.shard,
         | CAST(row_number() OVER (PARTITION BY j.phase, j.shard ORDER BY j.ord, j.doc_id) AS BIGINT) AS seq
         |FROM samp JOIN j ON j.doc_id = samp.doc_id
         |ORDER BY samp.doc_id""".stripMargin),
    // the crawl front door, streaming: container files arrive one per
    // micro-batch (binaryFile stream), records split and main text
    // extracted per batch — stateless through the engine, so the
    // drained stream equals batch warc_ingest and SHARES its twin
    Q("streaming_warc_ingest", (s, d) => {
      val src = stageWarcStream(s, d, "warcstream")(Html.pageFromDocs(t(s, d).documents))
      val ss = streamSession(s)
      val stream = warcStream(ss, src)
      val recs = graft.sources.Warc.records(stream.select(col("content")))
      val out = Html.extractMain(recs.drop("truncated"), idCol = "url")
        .select(col("doc_id").as("url"), col("fetch_ts"),
          col("n_blocks"), col("n_kept"), col("main_text"))
      EventStreams.runToMemory(ss, out, s"stream_warc_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy("url")
    })(
      // the streaming front door answers exactly what the batch one
      // does — one twin serves both (the bm25 trio device)
      warcIngestTwinSql),
    // the cleaning family as a streaming stage: per micro-batch (one
    // file per trigger) the SAME deterministic dirt is stitched on,
    // Luhn-scrubbed and NFC-normalized — stateless narrow transforms
    // ride the micro-batch engine unchanged, so the drained stream
    // equals the batch clean chain, which is the oracle
    Q("streaming_clean_ingest", (s, d) => {
      val (ss, stream) = docStream(s, d)
      val dirty = stream.select(col("doc_id"),
        concat(col("text"), Cleaning.cardFixtureSuffix(col("doc_id")),
          nfcSuffixCol(col("doc_id"))).as("text"))
      val cleaned = Cleaning.scrubCards(dirty)
        .select(col("doc_id"), col("n_candidates"), col("n_cards"),
          graft.functions.NfcNormalize.nfc(col("clean")).as("clean"))
      EventStreams.runToMemory(ss, cleaned, s"stream_clean_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy("doc_id")
    })(
      // batch twin of the streaming clean chain: same dirt, same scrub,
      // same normalization — micro-batching must be invisible
      s"""${cardScrubCtes(s"WITH fx AS (SELECT doc_id, text || $CardSuffixSql || $NfcSuffixSql AS text FROM documents)")}
         |SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_candidates,
         | CAST(len(valids) AS BIGINT) AS n_cards,
         | nfc_normalize(list_reduce(list_prepend(text, valids), (a, b) -> replace(a, b, '<CARD>'))) AS clean
         |FROM v ORDER BY doc_id""".stripMargin),
    // the corpus SAMPLER streamed: per micro-batch only the
    // batch-local top-(k+1) priority frontier lands (k-bounded state
    // — the frontier is associative, so batch frontiers compose
    // losslessly); the exact DLT finish runs on the drained union and
    // must equal the one-shot batch sample, which IS the oracle
    // streaming DSIR: frozen importance model broadcast against the
    // doc stream, fixed-threshold gate, zero cross-batch state — the
    // drained scores equal the one-shot batch scorer (the oracle)
    Q("streaming_dsir_ingest", (s, d) => {
      val (ss, docs0) = docStream(s, d)
      val stream = docs0.where(col("lang") =!= "en")
      val docs = t(ss, d).documents
      val model = Corpus.dsirModel(docs.where(col("lang") =!= "en"),
        docs.where(col("lang") === "en"))
      val out = java.nio.file.Files.createTempDirectory("graft-dsir").toString
      graft.streaming.IngestPipeline.runDsirIngest(ss, stream, model, out)
        .orderBy("doc_id")
    })(
      // the streaming scorer's twin = the batch dsir_select chain up to
      // the per-doc scores, thresholded at logw >= 0 instead of ranked
      s"""$DsirScoredCtes
         |SELECT doc_id, n_tokens, round(CAST(sl AS DOUBLE), 6) AS dsir_logw,
         |  sl >= 0 AS selected
         |FROM scored ORDER BY doc_id""".stripMargin),
    // the streaming DSIR gate under the m-bounded hashed model: the
    // per-batch broadcast is AT MOST m rows however large the firehose
    // vocabulary grows — the dsir_select_hashed posture applied to the
    // continuous feed (same frozen-model, zero-cross-batch-state shape)
    Q("streaming_dsir_ingest_hashed", (s, d) => {
      val (ss, docs0) = docStream(s, d)
      val stream = docs0.where(col("lang") =!= "en")
      val docs = t(ss, d).documents
      val model = Corpus.dsirModelHashed(docs.where(col("lang") =!= "en"),
        docs.where(col("lang") === "en"), m = 1024)
      val out = java.nio.file.Files.createTempDirectory("graft-dsirh").toString
      graft.streaming.IngestPipeline.runDsirIngest(ss, stream, model, out,
        scorer = Corpus.dsirScoreHashed(_, _, m = 1024))
        .orderBy("doc_id")
    })(
      // the hashed streaming gate's twin = the dsir_select_hashed chain
      // up to the per-doc scores, thresholded at logw >= 0 (the same
      // rank-free cut streaming_dsir_ingest uses — a stream cannot rank
      // globally without unbounded state)
      s"""$hashedDsirScoredCtes
         |SELECT doc_id, n_tokens, round(CAST(sl AS DOUBLE), 6) AS dsir_logw,
         |  sl >= 0 AS selected
         |FROM scored ORDER BY doc_id""".stripMargin),
    Q("streaming_priority_sample", (s, d) => {
      val (ss, stream) = docStream(s, d)
      val out = java.nio.file.Files.createTempDirectory("graft-psample").toString
      graft.streaming.IngestPipeline.runPrioritySampleIngest(ss, stream, out, k = 200)
        .orderBy("doc_id")
    })(
      // the drained stream's union of batch-local top-201 frontiers
      // finishes to the identical sample — one twin serves both
      prioritySampleTwinSql),
    Q("streaming_pipeline_ingest", (s, d) => {
      val (ss, docs) = docStream(s, d)
      val storeDir = java.nio.file.Files.createTempDirectory("graft-ingest-store").toString
      BatchStore(storeDir).seed(t(ss, d).documents.where(col("doc_id") % 2 === 0)
        .select(sha2(col("text"), 256).as("h")))
      val rates = Corpus.temperatureRates(
        t(ss, d).documents.select(col("doc_id"), col("lang"), col("text")))
      val out = java.nio.file.Files.createTempDirectory("graft-ingest-out").toString
      graft.streaming.IngestPipeline
        .runIngestStream(ss, docs, storeDir, rates, out, targetRowsPerFile = 5000L,
          // bloom-fronted store scan: exact (no false negatives), so the
          // oracle hash ALSO proves the runtime-filter path loses nothing
          bloomBits = 1L << 20)
        .orderBy("doc_id", "chunk_idx")
    })(
      s"WITH${ingestCycleSql("documents", profile = "documents")}"),
    // streaming CDC → current snapshot: foreachBatch maintains a
    // versioned copy-on-write latest-image table, LWW by (ts,
    // event_id). The source redelivers every event twice (2 copies ×
    // 2 files) — LWW absorbs the duplicates with no dedup operator;
    // the oracle is the batch argmax per user over the SINGLE-copy
    // table
    Q("streaming_latest_image", (s, d) => {
      val tmp = stageEvents(s, d, copies = 2, filesPerCopy = 2)
      val ss = streamSession(s)
      val table = java.nio.file.Files.createTempDirectory("graft-cow-latest").toString
      EventStreams.runLatestImageMerge(ss, tmp, table).orderBy("user_id")
    })(
      // the versioned CoW latest-image table must equal the batch argmax
      // per user (LWW by (ts, event_id)) over the single-copy events
      latestImageTwinSql),
    // the same CDC materialization, committed INTO a LakeTable: every
    // micro-batch is a version-pinned LWW commit with interval-pruned
    // partial rewrites and time travel across batch boundaries; the
    // doubled source (2 copies × 2 files) proves redelivery-safety
    // through the oracle, which is the same batch argmax
    Q("streaming_table_commits", (s, d) => {
      val tmp = stageEvents(s, d, copies = 2, filesPerCopy = 2)
      val ss = streamSession(s)
      val table = java.nio.file.Files.createTempDirectory("graft-lake-cdc").toString
      EventStreams.runLatestImageLake(ss, tmp, table).orderBy("user_id")
    })(
      // LakeTable-committed variant: same final image, same oracle —
      // the pruned partial rewrites are reader-invisible
      latestImageTwinSql),
    // partitioned parquet layout + partition pruning: only the matching
    // o_orderpriority directory is scanned (SourcesSpec asserts the
    // PartitionFilters reach the file index)
    Q("partitioned_scan", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-part").toString
      t(s, d).orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(tmp)
      s.read.parquet(tmp).where(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), graft.functions.dsum2(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    })(
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // file-level data skipping: orders clustered on o_totalprice into
    // 16 files + a per-file min/max manifest; the range scan consults
    // the manifest and loads only intersecting files (the spec counts
    // them), then must equal the plain full-scan filter
    // per-file BLOOM skipping for the anti-clustered point lookup: the
    // layout clusters by DATE, the lookup is by CUSTOMER — every file's
    // custkey interval spans the domain, so min/max pruning keeps all
    // 16 files while the blooms keep only the ones that might hold the
    // customer. No false negatives: the result is exact (the oracle)
    Q("bloom_pruned_scan", (s, d) => {
      val dir = stageLayout(s, d, "bloomscan") { tmp =>
        val o = t(s, d).orders.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_totalprice"))
        graft.sources.StatsManifest.writeClustered(o, tmp, col("o_orderdate"),
          Seq("o_orderdate", "o_custkey"), nFiles = 16)
        graft.sources.StatsManifest.bloomsOf(
            s, graft.sources.StatsManifest.listDataFiles(tmp), "o_custkey")
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/_blooms")
      }
      val (df, _, _) = graft.sources.StatsManifest.scanBloomPruned(
        s, graft.sources.FsUtil.readParquetDir(s, s"$dir/_blooms"), "o_custkey", 42L)
      df.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    })(
      // the manifest-pruned scan must equal the plain full-scan filter —
      // skipping may never change an answer
      // bloom skipping is exact: same rows as the unpruned point lookup
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_custkey = 42
        |ORDER BY o_orderkey""".stripMargin),
    Q("manifest_pruned_scan", (s, d) => {
      val dir = stageLayout(s, d, "price") { tmp =>
        graft.sources.StatsManifest.writeClustered(t(s, d).orders, tmp,
          col("o_totalprice"), Seq("o_totalprice"), nFiles = 16)
      }
      prunedStatusTotals(s, dir,
        Seq(("o_totalprice", lit(200000.0), lit(300000.0))))
    })(
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_totalprice >= 200000.0 AND o_totalprice <= 300000.0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // multi-dimensional skipping: the same table clustered on the
    // bit-interleaved Z-value of (custkey, price bucket) — BOTH box
    // dimensions get file-level min/max locality, so a 2-D box prunes
    // where a linear sort layout cannot (ZOrderSpec proves the gap)
    Q("zorder_scan", (s, d) => {
      val dir = stageLayout(s, d, "zorder") { tmp =>
        graft.sources.StatsManifest.writeClustered(t(s, d).orders, tmp,
          graft.sources.StatsManifest.zValue(col("o_custkey"), floor(col("o_totalprice") / 10000)),
          Seq("o_custkey", "o_totalprice"), nFiles = 16)
      }
      prunedStatusTotals(s, dir,
        Seq(("o_custkey", lit(300L), lit(600L)),
          ("o_totalprice", lit(100000.0), lit(200000.0))))
    })(boxScanTwinSql),
    // Hilbert-curve clustering over the SAME box predicates: strictly
    // better locality than the Z interleave (consecutive curve
    // positions are always grid-adjacent), so the same manifest prunes
    // more files — StatsManifestSpec counts both
    Q("hilbert_scan", (s, d) => {
      val dir = stageLayout(s, d, "hilbert") { tmp =>
        graft.sources.StatsManifest.writeClustered(t(s, d).orders, tmp,
          graft.functions.HilbertIndex2.hilbert(
            col("o_custkey"), floor(col("o_totalprice") / 10000).cast("long")),
          Seq("o_custkey", "o_totalprice"), nFiles = 16)
      }
      prunedStatusTotals(s, dir,
        Seq(("o_custkey", lit(300L), lit(600L)),
          ("o_totalprice", lit(100000.0), lit(200000.0))))
    })(
      // pruning changes which files are READ, never the answer — the
      // oracle is the plain filtered aggregate, same as zorder_scan
      boxScanTwinSql),
    // 3-D z-order: the k-ary interleave (zValueN) clusters custkey ×
    // price-bucket × orderkey-bucket at once, so a 3-predicate box
    // prunes files on ALL THREE dimensions (StatsManifestSpec counts
    // the skips vs a linear layout)
    Q("zorder3_scan", (s, d) => {
      val dir = stageLayout(s, d, "zorder3") { tmp =>
        graft.sources.StatsManifest.writeClustered(t(s, d).orders, tmp,
          graft.sources.StatsManifest.zValueN(Seq(
            col("o_custkey"), floor(col("o_totalprice") / 10000),
            floor(col("o_orderkey") / 64))),
          Seq("o_custkey", "o_totalprice", "o_orderkey"), nFiles = 16)
      }
      prunedStatusTotals(s, dir,
        Seq(("o_custkey", lit(300L), lit(600L)),
          ("o_totalprice", lit(100000.0), lit(200000.0)),
          ("o_orderkey", lit(10000L), lit(40000L))))
    })(
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_custkey >= 300 AND o_custkey <= 600
        | AND o_totalprice >= 100000.0 AND o_totalprice <= 200000.0
        | AND o_orderkey >= 10000 AND o_orderkey <= 40000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    // ORC source/sink round trip: parquet -> orc -> orc scan -> agg
    Q("orc_roundtrip", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-orc").toString
      t(s, d).orders.select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .groupBy(col("o_orderpriority"))
        .agg(graft.functions.dsum2(col("o_totalprice")).as("sum_price"), count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    })(
      """SELECT o_orderpriority,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    // Spark 4 built-in XML datasource (rowTag records)
    Q("xml_roundtrip", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-xml").toString
      t(s, d).nation.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .write.mode("overwrite").option("rowTag", "nation").format("xml").save(tmp)
      s.read.option("rowTag", "nation")
        .schema("n_nationkey BIGINT, n_name STRING, n_regionkey INT")
        .format("xml").load(tmp)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"))
        .orderBy(col("n_regionkey"))
    })(
      """SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),
    // opaque-binary media ingestion: one row per file via the
    // binaryFile source; byte counts measured on the content column
    // prove the blobs flowed through the plan (sources.BinaryMedia)
    Q("binary_source", (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-bin").toString
      graft.sources.BinaryMedia.writeDocFiles(t(s, d).documents, tmp)
      graft.sources.BinaryMedia.docByteSizes(s, tmp).orderBy("doc_id")
    })(
      // strlen = BYTE length in DuckDB; Spark measures length(content)
      // on the binary column — both count UTF-8 bytes
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** The two-predicate box aggregate over orders: Z-order and Hilbert
    * layouts prune different files, never change the answer. */
  private lazy val boxScanTwinSql: String =
    """SELECT o_orderstatus, count(*) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_custkey >= 300 AND o_custkey <= 600
      | AND o_totalprice >= 100000.0 AND o_totalprice <= 200000.0
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** One argmax twin serves both CDC materializations: the hand-rolled
    * version-dir table (`streaming_latest_image`) and the LakeTable-
    * committed one (`streaming_table_commits`). */
  private lazy val latestImageTwinSql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu, event_id, event_type, value FROM events),
      | r AS (SELECT user_id, tsu, event_id, event_type, value,
      |        row_number() OVER (PARTITION BY user_id ORDER BY tsu DESC, event_id DESC) AS rn FROM e)
      |SELECT user_id, tsu AS last_ts, event_id AS last_event_id,
      |       event_type AS last_type, value AS last_value
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** The events stream's finished daily relation (key, day, n): the
    * stream keeps only watermark-bounded per-(type, day) counters,
    * drained to the memory sink `stream_daily<tag>_<nanos>`. */
  private def streamedDaily(s: SparkSession, d: String, tag: String): DataFrame = {
    val tmp = stageEvents(s, d, copies = 1, filesPerCopy = 4)
    val ss = streamSession(s)
    val daily = EventStreams.dailyCounts(EventStreams.readEventStream(ss, tmp))
    EventStreams.runToMemory(ss, daily, s"stream_daily${tag}_${System.nanoTime()}")
  }

  /** An IVF-PQ index over `emb` minus the held-out residue class
    * (vec_id % 7 == 3), written with its per-cell energy baseline to a
    * fresh temp dir `prefix*`, then grown by streaming the held-out
    * vectors in ([[stageVecStream]], 3 files). Returns the index dir. */
  private def annIngested(s: SparkSession, d: String, emb: DataFrame, prefix: String): String = {
    val base = emb.where(col("vec_id") % 7 =!= 3)
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    val idx = Similarity.ivfPqBuild(base)
    Similarity.ivfPqWrite(idx, dir)
    Similarity.cellResidualEnergy(idx, base)
      .write.mode("overwrite").parquet(s"$dir/baseline")
    graft.streaming.VectorIngest.runAnnIngest(streamSession(s), stageVecStream(s, d, 3), dir)
    dir
  }

  /** Per-status order count and price total over the manifest-pruned
    * scan of `dir` under the range predicates `preds`. */
  private def prunedStatusTotals(s: SparkSession, dir: String,
                                 preds: Seq[(String, Column, Column)]): DataFrame = {
    val (df, _, _) = graft.sources.StatsManifest.scanPruned(s, dir, preds)
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), graft.functions.dsum2(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }
}
