package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Corpus, Dedup}
import graft.plans.Lineage.TruncateOps
import graft.streaming.EventStreams.drainEach

/** The CONTINUOUS twin of the batch `pipeline_ingest` composition:
  * document drops arriving as a file stream, each micro-batch run as
  * one ingest transaction —
  *
  *   batch-internal min-id dedup → anti-join against the PERSISTED
  *   digest store (exact dedup across batches AND against history) →
  *   fixed-rate temperature resample (policy from a profile snapshot,
  *   broadcast — see Corpus.temperatureRates) → context-window
  *   chunking → size-governed compacted landing.
  *
  * Exactly-once discipline is [[BatchStore]]'s: the landing and the
  * digest store are batch-keyed (a re-delivered batch replaces its own
  * commits), and a batch reads the store AS OF its own id — a replay
  * does NOT dedup against its own earlier commit or a later batch's.
  *
  * Scale shape per micro-batch: digests are 32-byte keys aggregated
  * batch-side then anti-joined against the store scan (the
  * Dedup.incrementalDigestDedup posture — batch-sized state, the store
  * is never re-written, only appended); rates ride a broadcast; the
  * chunker is a narrow generator; the landing is ⌈rows/target⌉ files.
  * Nothing in the loop scales with stream history except the store
  * scan — and with `bloomBits` set, even that is cut to a batch-sized
  * candidate set before the shuffle (a batch-built broadcast Bloom
  * filter in the store scan's predicate; exact, see [[ingestBatch]]).
  */
object IngestPipeline {

  /** Fan a micro-batch out to scan-level parallelism before its heavy
    * narrow work (optimization r17, guide §2.5 "one huge unsplittable
    * file"; gated r18 through graft.plans.FanOut): a file-stream
    * micro-batch is typically ONE file — one scan task — so every
    * regex/digest/shingle projection planned below the first exchange
    * runs single-threaded. The gated hash repartition on the row key
    * buys parallelism for the batch's map work sized to the batch
    * (an already-wide batch skips the exchange); post-shuffle stages
    * keep the stream session's own (state-sized) partitioning. */
  private[streaming] def fanOut(df: DataFrame, keyCol: String): DataFrame =
    graft.plans.FanOut.fanOutIfNarrow(df, col(keyCol))

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("text", StringType)))

  /** One micro-batch of the ingest, exposed so the spec can re-run a
    * batch verbatim and prove replay idempotence. `rates` must be the
    * fixed profile policy, not derived from `batch`.
    *
    * `bloomBits > 0` fronts the store scan with a Bloom filter BUILT
    * FROM THE BATCH's digests (the small side) and broadcast into the
    * store scan's predicate: store rows that cannot match any batch
    * digest drop before the anti-join shuffle. EXACT by construction —
    * Bloom has no false negatives, so every store digest that could
    * kill a batch row survives the filter; false positives only cost
    * wasted probe rows. At 100 TB this is the difference between
    * shuffling the full digest history every micro-batch and shuffling
    * a batch-sized candidate set. */
  /** `bandStoreDir`, when set, adds a NEAR-dup admission stage after
    * the exact-digest one: documents whose LSH band keys collide with
    * the persisted band store (or a lower-id batch mate) drop — the
    * [[graft.operators.Dedup.incrementalMinhashDedup]] semantics under
    * the same batch-keyed AS-OF/commit discipline as the digest store,
    * so replays stay idempotent. Band keys of ADMITTED documents
    * commit pre-resample (a later near-dup of a sampled-out doc is
    * still a near-dup — the digest contract, extended). */
  def ingestBatch(batch: DataFrame, batchId: Long, storeDir: String,
                  rates: DataFrame, outDir: String, targetRowsPerFile: Long,
                  chunkSize: Int, bloomBits: Long = 0L,
                  bloomItems: Long = 100000L,
                  bandStoreDir: Option[String] = None): Unit = {
    val ss = batch.sparkSession
    val batchP = fanOut(batch, "doc_id") // sha256/minhash/chunk work parallel
    val digests = BatchStore(storeDir)
    val bands = bandStoreDir.map(BatchStore(_))
    val storeAll = digests.asOf(ss, batchId)
    val store =
      if (bloomBits <= 0L) storeAll
      else graft.operators.Sketches.bloomSemiFilter(
        // might_contain probes on BIGINT: key the filter on the 64-bit
        // hash of the digest on BOTH sides (equal digests → equal
        // hashes, so the no-false-negative guarantee carries over)
        batchP.select(xxhash64(sha2(col("text"), 256)).as("k")), "k",
        storeAll.withColumn("__k", xxhash64(col("h"))), "__k",
        bloomItems, bloomBits).drop("__k")
    val fresh = Dedup.incrementalDigestDedup(batchP, store)
    val survivors = batchP.join(fresh.select(col("doc_id")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("text"))
    // near-dup admission against the band store AS OF this batch
    val admitted = bands.fold(survivors) { bs =>
      Dedup.incrementalMinhashDedup(survivors, bs.asOf(ss, batchId))
        .truncateLineage // consumed twice: resample + band commit
    }
    val kept = Corpus.resampleWithRates(admitted, rates)
      .select(col("doc_id"), col("lang"), col("text"))
    val chunks = Corpus.chunk(kept, chunkSize)
      .select(col("doc_id"), col("lang"), col("chunk_idx"), col("chunk"))
    BatchStore(outDir).write(batchId)(graft.sources.Sinks.writeCompacted(chunks, _, targetRowsPerFile))
    // commit the batch's digests LAST (post-resample docs included:
    // a later duplicate of a sampled-out doc is still a duplicate)
    digests.write(batchId, fresh.select(col("h")))
    bands.foreach(_.write(batchId, Dedup.bandKeys(admitted).select(col("band"), col("bh"))))
  }

  /** One micro-batch of PARAGRAPH-granularity incremental dedup — the
    * streaming form of [[graft.operators.Dedup.paragraphDedup]] with
    * FIRST-OCCURRENCE-WINS semantics (a stream cannot retract already
    * landed documents, so the first copy of a paragraph survives and
    * every later copy — same batch or any later one — drops; the
    * retroactive drop-ALL-copies form stays a batch job).
    *
    * The [[BatchStore]] discipline of [[ingestBatch]]: the hash store
    * is read AS OF this batch, and the landing and the newly-first
    * hashes commit batch-keyed, so replays are idempotent.
    *
    * Scale shape per batch: the first-occurrence rule is a window over
    * the 8-byte paragraph hash (per-group rows = one paragraph's
    * occurrences IN THIS BATCH — bounded), the store probe is one
    * hash-keyed join, reassembly state is one document's paragraphs. */
  def paraIngestBatch(paras: DataFrame, batchId: Long, storeDir: String,
                      outDir: String): Unit = {
    paraIngestLand(paras, batchId, storeDir, outDir, pinLanded = false)
    ()
  }

  /** [[paraIngestBatch]] with the landed per-document relation handed
    * back to the caller. `pinLanded = true` localCheckpoints the docs
    * BEFORE the landing write, so a same-batch consumer (the warc →
    * training composition) reads the pinned blocks instead of
    * round-tripping the just-written parquet through disk every
    * micro-batch (optimization r18 — the re-read was a full extra
    * listing + scan job per batch). With `pinLanded = false` the write
    * consumes the plan directly (one job, the plain-ingest shape) and
    * the returned relation must NOT be reused — recomputing it would
    * re-run the whole dedup. */
  private def paraIngestLand(paras: DataFrame, batchId: Long, storeDir: String,
                             outDir: String, pinLanded: Boolean): DataFrame = {
    val store = BatchStore(storeDir)
    val hashed = paras.select(col("doc_id"), col("pos"), col("para"),
      xxhash64(col("para")).as("ph"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ph")).orderBy(col("doc_id"), col("pos"))
    val flagged = hashed.withColumn("rn", row_number().over(w))
      .join(store.asOf(paras.sparkSession, batchId).select(col("ph")).distinct()
        .withColumn("seen", lit(true)), Seq("ph"), "left")
      .withColumn("keep", col("rn") === 1 && col("seen").isNull)
      .truncateLineage // consumed twice: landing + store commit
    val docsOut = flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        count(when(col("keep"), 1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("keep"), struct(col("pos"), col("para"))))),
          s => s.getField("para"))).as("text"))
    val landed = if (pinLanded) docsOut.truncateLineage else docsOut
    BatchStore(outDir).write(batchId, landed)
    // commit ONLY newly-first hashes: in-store repeats are already there
    store.write(batchId, flagged.where(col("keep")).select(col("ph")).distinct())
    landed
  }

  /** Run paragraph-dedup ingest over a CALLER-BUILT streaming pages
    * DataFrame: per micro-batch, block extraction runs inside the same
    * transaction as the dedup (the [[runIngestStream]] seam at
    * paragraph granularity). Returns the landed per-document table. */
  def runParaIngest(spark: SparkSession, pageStream: DataFrame, storeDir: String,
                    outDir: String): DataFrame = {
    BatchStore.seeded(storeDir)
    val land = BatchStore.landing(outDir)
    drainEach(pageStream) { (batch, batchId) =>
      paraIngestBatch(graft.operators.Html.extractBlocks(fanOut(batch, "doc_id")),
        batchId, storeDir, outDir)
    }
    land.all(spark)
      .select(col("doc_id"), col("n_paras"), col("n_kept"), col("text"))
  }

  /** The whole training-data build STREAMED — the continuous form of
    * the batch `warc_to_training_e2e` composition's in-stream stages:
    * WARC containers arrive one per micro-batch; each batch parses
    * records, extracts blocks, runs the first-occurrence-wins
    * paragraph dedup against the growing hash store
    * ([[paraIngestBatch]]'s transaction), Gopher-gates the batch's
    * landed docs, applies the BROADCAST mixture-rate snapshot (policy
    * solved on the batch curation — the [[runIngestStream]]
    * policy-snapshot posture), and lands only the batch's k+1-row
    * priority frontier. After the drain the exact DLT finish runs on
    * the frontier union — the caller picks up curriculum + packing
    * on the ≤k-doc sample. Every per-batch stage is batch-keyed and
    * replay-idempotent; per-batch sampler state is k-bounded and the
    * store holds 8-byte paragraph hashes, never text.
    * `langDim` is the doc_id → lang dimension (stream-static join);
    * `rates` is (lang, keep_permille). */
  def runWarcTrainingIngest(spark: SparkSession, containerStream: DataFrame,
                            storeDir: String, landDir: String, frontierDir: String,
                            langDim: DataFrame, rates: DataFrame, k: Int): DataFrame = {
    require(k > 0, "runWarcTrainingIngest needs k > 0")
    // loop-invariant dimension pinned once — a per-batch broadcast of
    // an unpinned langDim re-scans the dimension source every batch
    val langFrozen = langDim.truncateLineage
    BatchStore.seeded(storeDir)
    BatchStore.landing(landDir)
    val frontier = BatchStore.landing(frontierDir)
    drainEach(containerStream) { (batch, batchId) =>
      val recs = graft.sources.Warc.records(batch.select(col("content")))
      // the fixture's fetch_ts stamp is invertible (warc_ingest)
      val pages = fanOut(
        recs.select((col("fetch_ts") - 1700000000L).as("doc_id"), col("html")), "doc_id")
      // pinLanded: the gate below reuses the batch's landed docs
      // from the pin instead of re-reading the just-written parquet
      val landed = paraIngestLand(graft.operators.Html.extractBlocks(pages),
          batchId, storeDir, landDir, pinLanded = true)
        .select(col("doc_id"), col("text"))
      val gated = graft.operators.TextQuality.gopherQualityGate(landed)
        .where(col("keep")).select(col("doc_id"))
        .join(landed, Seq("doc_id"))
        .join(langFrozen, Seq("doc_id"))
      val mixed = gated.join(broadcast(rates), "lang")
        .where(graft.operators.Corpus.hashPermille(col("text")) < col("keep_permille"))
        .select(col("doc_id"), col("text"))
      frontier.write(batchId, graft.operators.Corpus.priorityKeyed(mixed)
        .orderBy(col("__key"), col("doc_id")).limit(k + 1))
    }
    graft.operators.Corpus.priorityFinish(
      frontier.all(spark).select(col("doc_id"), col("weight"), col("__key")), k)
  }

  /** The crawl FRONT DOOR composed as one stream — the full admission
    * policy every piece of which is batch-proven separately
    * (url_strip_tracking, canonical_dedup, url_blocklist_filter,
    * robots_filter, streaming_url_frontier) now running under one
    * streaming transaction: raw URLs arrive per micro-batch,
    * canonicalize in-stream (tracking-param strip), the engine's
    * STATEFUL dedup admits each canonical fetch key once across
    * batches, and each batch's first-seen keys take the gauntlet —
    * UT1-style blocklist (bounded suffix-chain equi-join, million-row
    * list safe) then robots longest-prefix verdict — landing ONE
    * admission row per fetch key, batch-keyed and replay-idempotent.
    *
    * Output per drained key: (url, blocked, rule_host, rule_prefix,
    * allowed, robots_rule, admitted) — admitted = ¬blocked ∧ allowed
    * is the frontier's verdict. Drained output equals the batch
    * closed form (canonicalize → distinct → blocklist → robots),
    * which is the oracle.
    *
    * Scale shape per micro-batch: dedup state is one key per
    * first-seen URL (the frontier's own cardinality — what any
    * crawler must hold), both rule relations join bounded (suffix
    * chain ≤ label count; robots rules broadcast per-host small), no
    * corpus-sized state anywhere. */
  def runCrawlAdmission(spark: SparkSession, urlStream: DataFrame,
                        blockRules: DataFrame, robotsRules: DataFrame,
                        landDir: String): DataFrame = {
    import graft.operators.Html
    val land = BatchStore.landing(landDir)
    // rule relations are loop-invariant; unpinned, each micro-batch
    // rebuilds them from their source scans (optimization r17)
    val blockFrozen = blockRules.truncateLineage
    val robotsFrozen = robotsRules.truncateLineage
    val canon = urlStream
      .select(Html.stripTrackingParams(col("url")).as("url"))
      .dropDuplicates("url")
    drainEach(canon) { (urls, batchId) =>
      val graded = Html.blocklistFilter(urls, blockFrozen)
        .join(Html.robotsFilter(urls, robotsFrozen)
          .withColumnRenamed("rule", "robots_rule"), Seq("url"))
        .withColumn("admitted", !col("blocked") && col("allowed"))
      land.write(batchId, graded)
    }
    land.all(spark)
      .select(col("url"), col("blocked"), col("rule_host"), col("rule_prefix"),
        col("allowed"), col("robots_rule"), col("admitted"))
  }

  /** Streaming fixed-k priority sampling (Duffield-Lund-Thorup over a
    * document stream): the sampler's candidate frontier is ASSOCIATIVE
    * — the global top-(k+1) by priority key is contained in the union
    * of per-slice top-(k+1)s — so each micro-batch keys its documents
    * ([[Corpus.priorityKeyed]]) and lands ONLY its own k+1 candidate
    * rows, batch-keyed and replay-idempotent (a re-delivered batch
    * overwrites its own directory). The exact finish (rank, threshold
    * τ, w_est) runs once on the drained union — ≤ (k+1)·nBatches rows
    * regardless of stream length, so per-batch state and the finish
    * relation are both k-bounded. Drained output is IDENTICAL to the
    * one-shot batch [[Corpus.prioritySample]], which is the oracle. */
  def runPrioritySampleIngest(spark: SparkSession, docStream: DataFrame,
                              outDir: String, k: Int): DataFrame = {
    require(k > 0, "runPrioritySampleIngest needs k > 0")
    val land = BatchStore.landing(outDir)
    drainEach(docStream) { (batch, batchId) =>
      // fanOut measured a NET LOSS here (priority keys are one md5
      // per row — cheaper than shuffling the text): keep single-scan
      land.write(batchId, graft.operators.Corpus.priorityKeyed(batch)
        .orderBy(col("__key"), col("doc_id")).limit(k + 1))
    }
    graft.operators.Corpus.priorityFinish(
      land.all(spark).select(col("doc_id"), col("weight"), col("__key")), k)
  }

  /** One micro-batch of the STREAMING dataset card: commit (a) the
    * batch's [[graft.operators.Corpus.datasetCardCube]] delta —
    * histogram-sized state (langs × sources × distinct doc lengths),
    * never rows — and (b) the batch's FIRST-SEEN text digests against
    * the store AS OF this batch ([[ingestBatch]]'s transaction
    * discipline), so the digest store's row count IS the stream's
    * exact distinct-text count. Both commits are batch-keyed
    * overwrites — replays are idempotent. */
  def cardBatch(batch: DataFrame, batchId: Long, cubeDir: String,
                digestDir: String): Unit = {
    val batchP = fanOut(batch, "doc_id") // sha256 + token histogram parallel
    BatchStore(cubeDir).write(batchId, graft.operators.Corpus.datasetCardCube(batchP))
    val digests = BatchStore(digestDir)
    digests.write(batchId, Dedup.incrementalDigestDedup(
      batchP, digests.asOf(batch.sparkSession, batchId)).select(col("h")))
  }

  /** The dataset card maintained INCREMENTALLY: drain the doc stream
    * through [[cardBatch]], then finish — merge the cube deltas by
    * re-aggregation and read the distinct count off the digest store.
    * The drained card is IDENTICAL to the one-shot batch
    * [[graft.operators.Corpus.datasetCard]], which is the oracle. */
  def runCardIngest(spark: SparkSession, docStream: DataFrame,
                    cubeDir: String, digestDir: String): DataFrame = {
    val cubes = BatchStore.landing(cubeDir)
    val digests = BatchStore.landing(digestDir)
    digests.seed(spark.range(0).select(lit("").as("h")))
    drainEach(docStream)(cardBatch(_, _, cubeDir, digestDir))
    val cube = cubes.all(spark)
      .groupBy(col("lang"), col("source"), col("n_toks"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("chars")).as("chars"),
        sum(col("n_pass")).as("n_pass"))
    val nDistinct = digests.all(spark)
      .agg(count(lit(1)).as("n_distinct"))
    graft.operators.Corpus.datasetCardFromCube(cube, nDistinct)
  }

  /** One micro-batch of CONTINUOUS winnowing copy detection — the
    * streaming MOSS: reject any batch document that shares at least
    * `minShared` selected fingerprints with an ADMITTED document from
    * an earlier batch (the store holds admitted docs' (doc_id, fp)
    * pairs) or with a lower-id batch mate (admitted or not — the
    * [[ingestBatch]] band-store mate rule), then commit the admitted
    * documents' fingerprints batch-keyed. Hot fingerprints (df >
    * `maxDf` within the batch) leave candidacy before any pair forms —
    * the stop-shingle posture, mirrored by the twin per batch. By the
    * winnowing guarantee a shared ≥ w+k−1-token run forces a shared
    * fingerprint, so a re-posted copy cannot slip past the detector
    * by arriving in a later crawl drop. Per-batch state: the batch's
    * own capped fingerprint set; the store probe is one 8-byte-keyed
    * join; replays are idempotent (batch-keyed overwrites, store read
    * AS OF the batch). */
  def winnowBatch(batch: DataFrame, batchId: Long, fpStoreDir: String,
                  outDir: String, minShared: Int = 2, maxDf: Int = 50,
                  k: Int = 3, w: Int = 4): Unit = {
    val fpsAll = Dedup.winnowingFingerprints(fanOut(batch, "doc_id"), k, w)
      .select(col("doc_id"), col("fp")).distinct()
    val rare = fpsAll.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("fp"))
    val fps = fpsAll.join(rare, "fp").truncateLineage
    val mateRej = fps.as("x").join(fps.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") > col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_id"), col("y.doc_id").as("mate"))
      .agg(count(lit(1)).as("n")).where(col("n") >= minShared)
      .select(col("doc_id"))
    val fpStore = BatchStore(fpStoreDir)
    val storeRej = fps.join(fpStore.asOf(batch.sparkSession, batchId)
        .select(col("doc_id").as("e"), col("fp")), "fp")
      .groupBy(col("doc_id"), col("e")).agg(count(lit(1)).as("n"))
      .where(col("n") >= minShared).select(col("doc_id"))
    val rejected = mateRej.unionByName(storeRej).distinct().truncateLineage
    val admitted = batch.select(col("doc_id")).join(rejected, Seq("doc_id"), "left_anti")
    fpStore.write(batchId, fps.join(admitted, Seq("doc_id")).select(col("doc_id"), col("fp")))
    BatchStore(outDir).write(batchId, admitted)
  }

  /** Drain the doc stream through [[winnowBatch]] and return the
    * admitted doc ids. */
  def runWinnowIngest(spark: SparkSession, docStream: DataFrame,
                      fpStoreDir: String, outDir: String,
                      minShared: Int = 2, maxDf: Int = 50): DataFrame = {
    BatchStore.landing(fpStoreDir).seed(spark.range(0).select(col("id").as("doc_id"), col("id").as("fp")))
    val land = BatchStore.landing(outDir)
    drainEach(docStream)(winnowBatch(_, _, fpStoreDir, outDir, minShared, maxDf))
    land.all(spark).select(col("doc_id"))
  }

  /** Run the ingest over a streaming DataFrame of (doc_id, lang, text)
    * to completion and return the landed chunk table. `storeDir` (and
    * `bandStoreDir`) is a [[BatchStore.seeded]] store: its seed holds
    * the digest history, and no earlier drain's batches. The stream
    * is the caller's, so an upstream extraction stage (e.g. HTML
    * boilerplate removal) runs inside the same micro-batch transaction
    * as the ingest itself; a bounded source dir of drops is
    * `EventStreams.fileStream(spark, dir, docSchema)`. */
  def runIngestStream(spark: SparkSession, docStream: DataFrame, storeDir: String,
                      rates: DataFrame, outDir: String, targetRowsPerFile: Long,
                      chunkSize: Int = 256, bloomBits: Long = 0L,
                      bloomItems: Long = 100000L,
                      bandStoreDir: Option[String] = None): DataFrame = {
    // pin the loop-invariant policy ONCE (optimization r17): rates is
    // typically a corpus-scale aggregate, and the per-batch broadcast
    // otherwise recomputes it from source every micro-batch
    val frozenRates = rates.truncateLineage
    BatchStore.seeded(storeDir)
    bandStoreDir.foreach(BatchStore.seeded)
    val land = BatchStore.landing(outDir)
    drainEach(docStream) { (batch, batchId) =>
      ingestBatch(batch, batchId, storeDir, frozenRates, outDir,
        targetRowsPerFile, chunkSize, bloomBits, bloomItems, bandStoreDir)
    }
    land.all(spark)
      .select(col("doc_id"), col("lang"), col("chunk_idx"), col("chunk"))
  }

  /** Streaming DSIR (Xie et al. 2023 importance resampling as a
    * continuous feed gate): the importance model is trained ONCE
    * ([[graft.operators.Corpus.dsirModel]]) and every micro-batch
    * scores its documents against the FROZEN broadcast Δ table — the
    * production posture: a 100 TB firehose is scored by a model you
    * retrain on drift, never per batch, so the per-batch work is one
    * broadcast join + one per-doc aggregate with ZERO cross-batch
    * state. Selection is a fixed log-weight threshold (a stream
    * cannot rank globally without unbounded state — the batch
    * [[graft.operators.Corpus.dsirSelect]]'s top-fraction cut is the
    * offline calibration that picks `minLogw`). Each batch lands
    * batch-keyed (replays idempotent); because a doc's score depends
    * only on its own words + the frozen model, the drained relation
    * equals the one-shot batch scorer exactly — the oracle. */
  def runDsirIngest(spark: SparkSession, docStream: DataFrame, model: DataFrame,
                    outDir: String, minLogw: Double = 0.0,
                    scorer: (DataFrame, DataFrame) => DataFrame =
                      Corpus.dsirScore(_, _)): DataFrame = {
    // `scorer` picks the model keying: Corpus.dsirScore against the
    // exact union-vocab model (default), or Corpus.dsirScoreHashed
    // against the m-bounded hashed model — the gate's broadcast then
    // stays ≤ m rows on a firehose whose union vocabulary would not
    // ship (the dsir_select_hashed posture, streaming half)
    val frozen = model.truncateLineage
    val land = BatchStore.landing(outDir)
    drainEach(docStream) { (batch, batchId) =>
      // fanOut measured +26% here (the scorer's explode+broadcast
      // probe is cheaper than shuffling the text payload): single-scan
      land.write(batchId, scorer(batch, frozen))
    }
    land.all(spark)
      .select(col("doc_id"), col("n_tokens"),
        round(col("sl").cast(DoubleType), 6).as("dsir_logw"),
        (col("sl") >= lit(minLogw)).as("selected"))
  }

  /** Streaming SFT admission — the post-training front door run as a
    * continuous pipeline: transcript drops arriving as a document
    * stream, each micro-batch one admission transaction —
    *
    *   render→parse (narrow, codegen'd) → per-conversation integrity
    *   audit ([[graft.operators.PostTraining.conversationAudit]] — a
    *   conversation arrives WHOLE inside one row, so the audit is
    *   batch-local by construction, zero cross-batch state) →
    *   response fingerprint → batch-keyed landing.
    *
    * Cross-batch response dedup is an EXACT FINISH on the drained
    * union (the runPrioritySampleIngest device): keeper = min conv_id
    * per fingerprint group is order-independent, so it runs once over
    * the landed (conv_id, audit, resp_fp) relation — never as
    * unbounded in-stream state — and the drained output equals the
    * one-shot batch composition exactly, which is the oracle.
    * `admitted` = audit-ok ∧ dedup-keeper.
    *
    * Scale shape per micro-batch: parsing and audit are batch-local
    * (one window + one groupBy on conv_id); the landing carries
    * constant-width audit columns + a 16-byte digest per conversation
    * (transcripts themselves are NOT landed); the finish shuffles
    * only (conv_id, resp_fp). Replays are idempotent: the landing is a
    * [[BatchStore.landing]] (the runCrawlAdmission posture). */
  def runSftAdmission(spark: SparkSession, docStream: DataFrame,
                      landDir: String): DataFrame = {
    import graft.operators.PostTraining
    def audited(turns: DataFrame): DataFrame = PostTraining.conversationAudit(turns)
      .join(PostTraining.responseFingerprints(turns), Seq("conv_id"), "left")
    val land = BatchStore.landing(landDir)
    drainEach(docStream) { (batch, batchId) =>
      // fanOut measured 2.15x SLOWER here — render/parse is one
      // regex split per transcript, far cheaper than shuffling the
      // transcripts; keep the batch single-scan
      land.write(batchId, audited(
        PostTraining.parseTurns(PostTraining.renderTranscripts(batch))))
    }
    // zero-micro-batch guard (ADVICE r16): an empty landing reads as an
    // empty, schema-bearing admission relation
    val noTurns = spark.range(0).select(col("id").as("conv_id"), col("id").as("turn_idx"),
      lit("").as("role"), lit("").as("content"))
    val landed = land.all(spark, ifEmpty = Some(audited(noTurns).schema))
    val groups = landed.groupBy(col("resp_fp"))
      .agg(count(lit(1)).as("group_size"), min(col("conv_id")).as("__keeper"))
    landed.join(groups, Seq("resp_fp"), "left")
      .select(col("conv_id"), col("n_turns"), col("same_role_runs"),
        col("starts_ok"), col("ends_assistant"), col("has_empty"), col("ok"),
        col("resp_fp"),
        coalesce(col("group_size"), lit(1L)).as("group_size"),
        (col("resp_fp").isNull || col("conv_id") === col("__keeper")).as("keep"),
        (col("ok") && (col("resp_fp").isNull || col("conv_id") === col("__keeper")))
          .as("admitted"))
  }
}
