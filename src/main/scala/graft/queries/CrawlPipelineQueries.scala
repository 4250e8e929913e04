package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.streaming.{BatchStore, EventStreams}
import graft.plans.Lineage.TruncateOps
import graft.QuerySpec.Q
import graft.SparkEntry._
import graft.queries.Twins._

/** LLM-pipeline operators, part 6: end-to-end crawl curation chains,
  * media fingerprints, quality classifiers and the streaming crawl
  * pipelines. */
object CrawlPipelineQueries {
  val specs: Seq[QuerySpec] = Seq(
    // the crawl-native curation chain in ONE query: boilerplated pages
    // → block extraction → cross-corpus paragraph dedup → Gopher
    // word-level gate on the CLEANED text → context-window chunking
    Q("crawl_curation_e2e", (s, d) => {
      val pages = boilerplated(Html.pageFromDocs(t(s, d).documents))
      val deduped = Dedup.paragraphDedup(Html.extractBlocks(pages))
        .select(col("doc_id"), col("text"))
        .truncateLineage // consumed by the gate AND the rejoin
      val gated = gopherGated(deduped, t(s, d).documents)
      Corpus.chunk(gated, size = 256)
        .select(col("doc_id"), col("lang"), col("chunk_idx"), col("chunk"))
        .orderBy("doc_id", "chunk_idx")
    }) {
      // the crawl-native curation chain end to end: boilerplated pages →
      // block extraction → cross-corpus paragraph dedup → Gopher
      // word-level gate on the CLEANED text → context-window chunking —
      // one hash proves the whole curation path a crawl corpus actually
      // takes. The twin rebuilds the deduped text closed-form and then
      // computes gate features and chunks TEXTUALLY from it
      s"""$ParaRelCtes,
         |$DedupGopherCtes
         | j AS (SELECT g.doc_id, d2.lang, g.text FROM g JOIN documents d2 ON g.doc_id = d2.doc_id),
         | c AS (SELECT doc_id, lang, text,
         |    CAST(ceil(length(text) / 256.0) AS BIGINT) AS n_chunks FROM j),
         | u AS (SELECT doc_id, lang, text,
         |    unnest(generate_series(0, n_chunks - 1)) AS chunk_idx FROM c)
         |SELECT doc_id, lang, chunk_idx,
         | substring(text, CAST(chunk_idx * 256 + 1 AS INT), 256) AS chunk
         |FROM u ORDER BY doc_id, chunk_idx""".stripMargin
    },
    // the WHOLE product in ONE hash: crawl containers in, training
    // manifest out. Boilerplated pages are framed into WARC-shaped
    // containers and parsed back (the crawl front door), blocks are
    // extracted and cross-corpus paragraph-deduped, the Gopher word
    // gate cuts junk, the mixture SOLVER derives the largest
    // no-oversampling 50/30/20 en/de/zh rates over the SURVIVING
    // profile and applies them by content hash, a fixed-k priority
    // sample picks the budgeted corpus with unbiased weight
    // estimators, curriculum phases/shards order it, and each doc is
    // chunked, BPE-tokenized under the frozen merges, and packed
    // under a 64-token budget — the output is the per-chunk training
    // manifest (pack placement + curriculum slot + sampling weight).
    // Every stage reuses an operator whose twin is already proven;
    // the one hash proves the COMPOSITION (stage contracts line up,
    // no stage re-orders or drops rows it shouldn't)
    Q("warc_to_training_e2e", (s, d) => {
      val docs = t(s, d).documents
      val pages = boilerplated(Html.pageFromDocs(docs))
      val withMeta = warcMeta(pages)
      val recs = graft.sources.Warc.records(
        graft.sources.Warc.containersFromDocs(withMeta, nContainers = 8))
      // the fixture's fetch_ts stamp is invertible — recover doc_id
      // without parsing the URL tail
      val pagesBack = recs.select((col("fetch_ts") - 1700000000L).as("doc_id"), col("html"))
      val deduped = Dedup.paragraphDedup(Html.extractBlocks(pagesBack))
        .select(col("doc_id"), col("text"))
        .truncateLineage // consumed by the gate AND the rejoin
      val gated = gopherGated(deduped, docs)
      // mixture solve over the gated profile (not the raw corpus):
      // rates reflect what survived quality, the order a real build
      // runs the stages in
      val targets = Seq(("en", 0.5), ("de", 0.3), ("zh", 0.2))
      val prof = gated.groupBy("lang").agg(count(lit(1)).as("n_l"))
      val joined = prof.join(broadcast(s.createDataFrame(targets).toDF("lang", "t")), "lang")
      val sRow = joined.agg(min(col("n_l").cast("double") / col("t")).as("scale"))
      val rates = joined.crossJoin(broadcast(sRow))
        .select(col("lang"),
          floor(lit(1000.0) * col("t") * col("scale") / col("n_l").cast("double"))
            .cast("long").as("keep_permille"))
      val mixed = gated.join(broadcast(rates), "lang")
        .where(Corpus.hashPermille(col("text")) < col("keep_permille"))
        .select(col("doc_id"), col("text"))
        .truncateLineage // consumed by the sample AND the rejoin
      val samp = Corpus.prioritySample(mixed, k = 100).truncateLineage
      trainingManifest(samp, mixed.join(samp.select("doc_id"), "doc_id"))
    }) {
      // the full-build twin: every stage's proven CTE chain stitched
      // end to end — paragraph relation + df cut (paragraph_dedup),
      // Gopher features (crawl_curation_e2e), solver arithmetic
      // (mixture_solve), k+1 priority pick (priority_sample), histogram
      // percent-rank curriculum (curriculum_shards), and the recursive
      // BPE applier + shard-cumsum packing (packed_bpe). The WARC
      // framing round-trip is byte-lossless (warc_ingest's proof), so
      // the twin starts from the same paragraph relation
      s"""${ParaRelCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$DedupGopherCtes
         |$MixtureRatesCtes
         | mixed AS (SELECT mj.doc_id, mj.text FROM mj JOIN rates r ON mj.lang = r.lang
         |          WHERE $HashPermille < r.keep_permille),
         |$SampleChunkPackSql""".stripMargin
    },
    // the whole build STREAMED: the same crawl-to-manifest chain with
    // containers arriving one per micro-batch. Paragraph dedup flips
    // to FIRST-OCCURRENCE-WINS (a stream cannot retract landed docs;
    // arrival order is container_id = doc_id mod 8, then doc_id —
    // which the twin's one window reproduces); mixture rates are a
    // POLICY SNAPSHOT solved on the batch (drop-all-copies) curation
    // — yesterday's solve applied to today's stream; the sampler
    // lands k+1-row frontiers per batch and finishes exactly after
    // the drain; curriculum + BPE packing run on the ≤k-doc sample
    Q("streaming_warc_to_training", (s, d) => {
      val src = stageWarcStream(s, d, "warctrainstream")(
        boilerplated(Html.pageFromDocs(t(s, d).documents)))
      val ss = streamSession(s)
      // policy snapshot: the batch e2e's rate solve, reused verbatim.
      // Computed in the OUTER session deliberately (optimization r17):
      // the snapshot is a corpus-scale batch pipeline (paragraph dedup,
      // gopher gate, profile), and the stream session's state-sized
      // 4-partition conf was measured costing a 4.5s localCheckpoint
      // here vs ~1s at the CPU-count partitioning. The materialized
      // rates relation is tiny and session-independent (one shared
      // SparkContext), and its VALUES are unchanged.
      val docs = t(s, d).documents
      val pagesB = boilerplated(Html.pageFromDocs(docs))
      val dedupedB = Dedup.paragraphDedup(Html.extractBlocks(pagesB))
        .select(col("doc_id"), col("text")).truncateLineage
      val gatedB = gopherGated(dedupedB, docs)
      val targets = Seq(("en", 0.5), ("de", 0.3), ("zh", 0.2))
      val prof = gatedB.groupBy("lang").agg(count(lit(1)).as("n_l"))
      val joinedP = prof.join(broadcast(ss.createDataFrame(targets).toDF("lang", "t")), "lang")
      val sRow = joinedP.agg(min(col("n_l").cast("double") / col("t")).as("scale"))
      val rates = joinedP.crossJoin(broadcast(sRow))
        .select(col("lang"),
          floor(lit(1000.0) * col("t") * col("scale") / col("n_l").cast("double"))
            .cast("long").as("keep_permille"))
        .truncateLineage
      val storeDir = java.nio.file.Files.createTempDirectory("graft-wtstore").toString
      BatchStore(storeDir).seed(ss.range(0).select(col("id").as("ph")))
      val landDir = java.nio.file.Files.createTempDirectory("graft-wtland").toString
      val frontierDir = java.nio.file.Files.createTempDirectory("graft-wtfront").toString
      val stream = warcStream(ss, src)
      val samp = graft.streaming.IngestPipeline.runWarcTrainingIngest(ss, stream,
          storeDir, landDir, frontierDir,
          docs.select(col("doc_id"), col("lang")), rates, k = 100)
        .truncateLineage
      trainingManifest(samp, BatchStore(landDir).all(ss).select(col("doc_id"), col("text"))
        .join(samp.select("doc_id"), "doc_id"))
    }) {
      // the streamed build's twin: the batch chain (dd..rates) supplies
      // the POLICY SNAPSHOT rates; the corpus itself takes the
      // first-occurrence-wins dedup — one window ordered by the stream
      // arrival order (container_id = doc_id % 8, then doc_id, pos) —
      // and the sampler/curriculum/packing CTEs run on it
      s"""${ParaRelCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$DedupGopherCtes
         |$MixtureRatesCtes
         | rs AS (SELECT doc_id, pos, para,
         |    row_number() OVER (PARTITION BY para ORDER BY doc_id % 8, doc_id, pos) AS rn FROM paras),
         | sdd AS (SELECT doc_id,
         |    coalesce(string_agg(para, ' ' ORDER BY pos) FILTER (WHERE rn = 1), '') AS text
         |  FROM rs GROUP BY doc_id),
         | stk AS (SELECT doc_id, text,
         |    list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS tk2
         |  FROM sdd),
         | sf AS (SELECT doc_id, text,
         |    CAST(len(tk2) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(tk2, x -> length(x))) AS DOUBLE) / len(tk2) AS mean_word_len,
         |    CAST(len(list_filter(tk2, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(tk2) AS alpha_frac,
         |    CAST(len(list_filter(tk2, x -> list_contains([$EnStopsSqlList], lower(x)))) AS BIGINT) AS n_stop_hits
         |  FROM stk),
         | sg AS (SELECT doc_id, text FROM sf
         |  WHERE n_words BETWEEN 50 AND 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |    AND alpha_frac >= 0.8 AND n_stop_hits >= 2),
         | smj AS (SELECT sg.doc_id, d3.lang, sg.text FROM sg JOIN documents d3 ON sg.doc_id = d3.doc_id),
         | mixed AS (SELECT smj.doc_id, smj.text FROM smj JOIN rates r2 ON smj.lang = r2.lang
         |          WHERE $HashPermille < r2.keep_permille),
         |$SampleChunkPackSql""".stripMargin
    },
    // C4's line-level rules as an operator: the fixture decorates each
    // doc's 12-word lines with closed-form dirt — every 5th line loses
    // its terminal punctuation, every 7th gains a brace, and four
    // injected lines carry the 'javascript' / 'lorem ipsum' /
    // too-short / kept-sentence cases — then c4LineFilter keeps lines
    // that end in terminal punctuation, have >= 5 words, and carry
    // none of the tells. The twin builds the same lines and applies
    // the same rules as independent SQL (regexp + split), so the hash
    // proves the rule engine, not the fixture
    Q("c4_line_filter", (s, d) =>
      TextQuality.c4LineFilter(c4LineFixture(s, d)).orderBy("doc_id"))(
      // the same decorated lines built by the fixture's arithmetic, then
      // the C4 rules applied as INDEPENDENT SQL (regexp + split + tells)
      s"""$C4LinesCtes,
        | k AS (SELECT doc_id, pos, line,
        |    (regexp_matches(line, '[.!?"]$$')
        |     AND len(list_filter(string_split_regex(line, '\\s+'), x -> length(x) > 0)) >= 5
        |     AND NOT contains(lower(line), 'javascript')
        |     AND NOT contains(lower(line), 'lorem ipsum')
        |     AND NOT contains(line, '{')) AS keep
        |  FROM lines)
        |SELECT doc_id, count(*) AS n_lines, count(*) FILTER (WHERE keep) AS n_kept,
        | coalesce(string_agg(line, ' ' ORDER BY pos) FILTER (WHERE keep), '') AS text,
        | count(*) FILTER (WHERE keep) >= 3 AS page_kept
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // C4's OTHER half: span-level decontamination with REMOVAL — every
    // 3-line span shared with the benchmark slice (doc_id%97==0, the
    // decontaminate device) is cut from the corpus docs and the rest
    // reassembled; the injected tell lines are identical across docs,
    // so cross-doc spans genuinely fire
    Q("span_scrub", (s, d) => {
      val lines = c4LineFixture(s, d)
      Corpus.spanScrub(
        lines.where(col("doc_id") % 97 =!= 0),
        lines.where(col("doc_id") % 97 === 0)).orderBy("doc_id")
    })(
      // spans via lead() windows over the shared line relation; removal
      // set exploded from contaminated span starts; string equality
      // where the engine uses the 8-byte span hash
      s"""$C4LinesCtes,
         | cl AS (SELECT * FROM lines WHERE doc_id % 97 <> 0),
         | bl AS (SELECT * FROM lines WHERE doc_id % 97 = 0),
         | cs AS (SELECT doc_id, pos AS start,
         |    line || ' ' || lead(line, 1) OVER win || ' ' || lead(line, 2) OVER win AS txt,
         |    lead(line, 2) OVER win IS NOT NULL AS okspan
         |  FROM cl WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         | bs AS (SELECT DISTINCT txt FROM (
         |    SELECT line || ' ' || lead(line, 1) OVER win || ' ' || lead(line, 2) OVER win AS txt,
         |      lead(line, 2) OVER win IS NOT NULL AS okspan
         |    FROM bl WINDOW win AS (PARTITION BY doc_id ORDER BY pos)) WHERE okspan),
         | rm AS (SELECT DISTINCT c.doc_id, u.p AS pos
         |   FROM (SELECT doc_id, start, txt FROM cs WHERE okspan) c
         |   JOIN bs USING (txt), unnest(generate_series(c.start, c.start + 2)) AS u(p))
         |SELECT l.doc_id, count(*) AS n_lines, count(r.pos) AS n_removed,
         | coalesce(string_agg(l.line, ' ' ORDER BY l.pos) FILTER (WHERE r.pos IS NULL), '') AS text
         |FROM cl l LEFT JOIN rm r ON l.doc_id = r.doc_id AND l.pos = r.pos
         |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin),
    // latest-fetch snapshot dedup: two crawl snapshots of every third
    // URL (the re-fetch carries an appended marker word and a later
    // fetch_ts), one max((ts, payload)) per URL keeps the newest, and
    // the proven extractor runs on the WINNING html — the twin derives
    // (url, ts, n_snapshots, text) closed-form, so the hash proves the
    // argmax picked the right snapshot's content everywhere
    Q("crawl_snapshot_dedup", (s, d) => {
      val docs = t(s, d).documents
      def meta(pages: DataFrame, tsBase: Long) = {
        val id = col("doc_id")
        pages.select(
          concat(lit("https://"), Html.fixtureHost(id % Html.SiteSpace),
            lit("/doc/"), id.cast("string")).as("url"),
          (lit(tsBase) + id).as("fetch_ts"), col("html"))
      }
      val snap1 = meta(Html.pageFromDocs(docs), 1700000000L)
      val snap2 = meta(Html.pageFromDocs(
        docs.where(col("doc_id") % 3 === 0)
          .withColumn("text", concat(col("text"), lit(" updatemarker")))), 1700500000L)
      val latest = Dedup.latestSnapshot(snap1.unionByName(snap2))
      Html.extractMain(latest, idCol = "url")
        .select(col("doc_id").as("url"), col("fetch_ts"), col("n_snapshots"),
          col("main_text"))
        .orderBy("url")
    })(
      // closed-form latest-snapshot expectation: every third doc was
      // re-fetched later with the marker appended; text length 48+ means
      // ws is never empty, but the empty arm stays for smaller SFs
      s"""WITH w AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS ws
         |  FROM documents)
         |SELECT 'https://' || ${sqlHost(s"doc_id%${Html.SiteSpace}")} || '/doc/' || doc_id AS url,
         | CAST(CASE WHEN doc_id % 3 = 0 THEN 1700500000 + doc_id
         |           ELSE 1700000000 + doc_id END AS BIGINT) AS fetch_ts,
         | CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_snapshots,
         | CASE WHEN doc_id % 3 = 0 THEN
         |        CASE WHEN len(ws) > 0 THEN array_to_string(ws, ' ') || ' updatemarker'
         |             ELSE 'updatemarker' END
         |      ELSE array_to_string(ws, ' ') END AS main_text
         |FROM w ORDER BY url""".stripMargin),
    // anchor-text aggregation: how the corpus DESCRIBES each target
    // page (the off-page retrieval signal) — the fixture gives every
    // source its own anchor wording (first word + target id), and the
    // twin derives all of it from doc_id arithmetic, so the hash
    // proves paired href/text extraction, entity decode, self-link
    // drop, and the per-target distinct/min aggregation
    Q("anchor_texts", (s, d) =>
      Html.anchorTexts(Html.anchorPageFromDocs(t(s, d).documents)).orderBy("dst")) {
      // every anchor string derived closed-form: source's first word +
      // target id, over the (7k+3, 13k+5, k+1) mod m link map
      val m = Html.DefaultLinkSpace
      s"""WITH w AS (SELECT doc_id,
         |    coalesce(list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0)[1], '') AS fw
         |  FROM documents),
         | e AS (SELECT doc_id AS src, fw,
         |    unnest([(doc_id*7+3)%$m, (doc_id*13+5)%$m, (doc_id+1)%$m]) AS dst FROM w),
         | p AS (SELECT src, CAST(dst AS BIGINT) AS dst, trim(fw || ' ' || dst) AS anchor
         |   FROM e WHERE dst <> src)
         |SELECT dst, count(DISTINCT src) AS n_inlinks,
         | count(DISTINCT anchor) AS n_anchor_variants, min(anchor) AS top_anchor
         |FROM p GROUP BY dst ORDER BY dst""".stripMargin
    },
    // the corpus quality DASHBOARD: per source, document counts, mean
    // learned-classifier llr (DECIMAL-summed — rounded llrs are exact
    // 6-dp decimals), Gopher-gate pass fraction, and mean word count —
    // the report a curation team actually reads when deciding which
    // sources to keep
    Q("source_quality_report", (s, d) => {
      val docs = t(s, d).documents
      val nb = TextQuality.nbLogLikelihoodRatio(nbLabeled(s, d))
        .select(col("doc_id"), col("llr"))
      val gate = TextQuality.gopherQualityGate(docs)
        .select(col("doc_id"), col("n_words"), col("keep"))
      docs.select(col("doc_id"), col("source"))
        .join(nb, Seq("doc_id")).join(gate, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("llr").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double") / count(lit(1)), 6).as("mean_llr"),
          (count(when(col("keep"), 1)).cast("double") / count(lit(1))).as("keep_frac"),
          (sum(col("n_words")).cast("double") / count(lit(1))).as("mean_words"))
        .orderBy("source")
    }) {
      // NB chain + Gopher features joined per doc, rolled up per source
      // with DECIMAL-safe means
      s"""$NbCtes,
         | gtk AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS tk
         |  FROM documents),
         | gf AS (SELECT doc_id,
         |    CAST(len(tk) AS BIGINT) AS n_words,
         |    (CAST(len(tk) AS BIGINT) BETWEEN 50 AND 100000
         |     AND CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk) >= 3.0
         |     AND CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk) <= 10.0
         |     AND CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(tk) >= 0.8
         |     AND len(list_filter(tk, x -> list_contains([$EnStopsSqlList], lower(x)))) >= 2) AS keep
         |  FROM gtk)
         |SELECT d3.source, count(*) AS n_docs,
         | round(CAST(sum(CAST(nb.llr AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_llr,
         | CAST(count(*) FILTER (WHERE gf.keep) AS DOUBLE) / count(*) AS keep_frac,
         | CAST(sum(gf.n_words) AS DOUBLE) / count(*) AS mean_words
         |FROM documents d3 JOIN nb USING (doc_id) JOIN gf USING (doc_id)
         |GROUP BY d3.source ORDER BY d3.source""".stripMargin
    },
    // corpus drift monitoring: per-term KL(new||old) contributions
    // between the even/odd doc_id slices (the stand-in for two crawl
    // snapshots), top positive movers — catches a source going stale
    // or a scraper change shifting the language
    Q("corpus_drift", (s, d) =>
      TextQuality.tokenDistributionDrift(
        t(s, d).documents.withColumn("is_new", col("doc_id") % 2 === 1)))(
      // the same smoothed per-term KL chain: union-vocab counts, one
      // scalar row, identically-associated double expression per term
      corpusDriftTwin),
    // the FULL Gopher n-gram repetition gate: top-gram char coverage
    // for n=2..4, duplicated-gram char coverage for n=5..10, all nine
    // sizes in one explode pass; the twin is GENERATED from the same
    // band constants
    Q("gopher_repetition", (s, d) =>
      TextQuality.gopherRepetitionGate(t(s, d).documents).orderBy("doc_id")) {
      // nine gram relations, the (count, chars, gram) deterministic top
      // pick, and the band conjunction — all generated from the same
      // Seq((n, threshold)) constants the operator defaults to
      val topBands = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
      val dupBands = Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)
      val gramCtes = (topBands ++ dupBands).map(_._1).map(n =>
        s"""SELECT doc_id, total_chars, $n AS n,
           |   array_to_string(list_slice(ws, i, i + ${n - 1}), ' ') AS gram
           | FROM t, unnest(generate_series(1, len(ws) - ${n - 1})) AS u(i)
           | WHERE len(ws) >= $n""".stripMargin).mkString("(", ")\n UNION ALL (", ")")
      val wideCols = (topBands.map { case (n, _) =>
        s"coalesce(max(CASE WHEN n = $n THEN top_frac END), 0.0) AS top_${n}_frac"
      } ++ dupBands.map { case (n, _) =>
        s"coalesce(max(CASE WHEN n = $n THEN dup_frac END), 0.0) AS dup_${n}_frac"
      }).mkString(",\n    ")
      val keep = (topBands.map { case (n, t) => s"top_${n}_frac <= CAST($t AS DOUBLE)" } ++
        dupBands.map { case (n, t) => s"dup_${n}_frac <= CAST($t AS DOUBLE)" })
        .mkString(" AND ")
      s"""WITH t0 AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS ws
         |  FROM documents),
         | t AS (SELECT doc_id, ws, list_sum(list_transform(ws, x -> length(x))) AS total_chars
         |  FROM t0 WHERE len(ws) >= 1),
         | g AS ($gramCtes),
         | c AS (SELECT doc_id, n, gram, any_value(total_chars) AS total_chars,
         |    count(*) AS c, length(gram) - (n - 1) AS chars
         |  FROM g GROUP BY doc_id, n, gram),
         | r AS (SELECT *, row_number() OVER (PARTITION BY doc_id, n
         |    ORDER BY c DESC, chars DESC, gram DESC) AS rn FROM c),
         | p AS (SELECT doc_id, n,
         |    CAST(max(CASE WHEN rn = 1 THEN c * chars END) AS DOUBLE) / any_value(total_chars) AS top_frac,
         |    CAST(coalesce(sum(CASE WHEN c >= 2 THEN c * chars END), 0) AS DOUBLE) / any_value(total_chars) AS dup_frac
         |  FROM r GROUP BY doc_id, n),
         | wdf AS (SELECT doc_id,
         |    $wideCols
         |  FROM p GROUP BY doc_id)
         |SELECT *, ($keep) AS keep FROM wdf ORDER BY doc_id""".stripMargin
    },
    // Gopher's word-level document gate: count/length/alpha/stopword
    // bands computed as exact integer counts with single IEEE
    // divisions, and the conjunction flag — the twin recomputes every
    // feature and band in SQL from the same constants
    Q("gopher_rules", (s, d) =>
      TextQuality.gopherQualityGate(t(s, d).documents).orderBy("doc_id")) {
      // every Gopher feature and band recomputed in SQL from the same
      // constants (stop list generated from the Scala object)
      s"""WITH tk AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS tk
         |  FROM documents),
         | f AS (SELECT doc_id,
         |    CAST(len(tk) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk) AS mean_word_len,
         |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(tk) AS alpha_frac,
         |    CAST(len(list_filter(tk, x -> list_contains([$EnStopsSqlList], lower(x)))) AS BIGINT) AS n_stop_hits
         |  FROM tk)
         |SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stop_hits,
         | (n_words BETWEEN 50 AND 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |  AND alpha_frac >= 0.8 AND n_stop_hits >= 2) AS keep
         |FROM f ORDER BY doc_id""".stripMargin
    },
    // crawl frontier scheduling: outlink targets with NO crawled page
    // (the fixture's link space is 2x the corpus id space, so half the
    // targets are genuinely uncrawled), prioritized by distinct
    // inlinks with a deterministic dst tiebreak, top-50 via
    // TakeOrdered — "what to fetch next", composed from the proven
    // edge extraction
    Q("crawl_frontier", (s, d) => {
      val docs = t(s, d).documents
      val edges = Html.outlinks(Html.pageFromDocs(docs))
      val frontier = edges
        .join(docs.select(col("doc_id").as("dst")), Seq("dst"), "left_anti")
        .groupBy(col("dst")).agg(countDistinct(col("src")).as("n_inlinks"))
      frontier.orderBy(col("n_inlinks").desc, col("dst")).limit(50)
        .withColumn("priority", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n_inlinks").desc, col("dst"))).cast("long"))
        .orderBy("priority")
    })(
      // uncrawled targets of the closed-form edge map, ranked by
      // distinct inlinks with the same deterministic tiebreak
      s"""$CrawlEdgesCte,
         | f AS (SELECT dst, count(DISTINCT src) AS n_inlinks FROM edges e
         |   WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.dst)
         |   GROUP BY dst),
         | r AS (SELECT dst, n_inlinks,
         |   row_number() OVER (ORDER BY n_inlinks DESC, dst) AS priority FROM f)
         |SELECT dst, n_inlinks, priority FROM r WHERE priority <= 50
         |ORDER BY priority""".stripMargin),
    // politeness on top of the frontier: wave = per-host fetch rank
    // (a host is hit once per wave), slot = cross-host order within a
    // wave — the mercator host-queue interleave, relationally
    Q("crawl_schedule", (s, d) => {
      val docs = t(s, d).documents
      val frontier = Html.outlinks(Html.pageFromDocs(docs))
        .join(docs.select(col("doc_id").as("dst")), Seq("dst"), "left_anti")
        .groupBy(col("dst")).agg(countDistinct(col("src")).as("n_inlinks"))
        .withColumn("host", col("dst") % Html.SiteSpace)
      Html.politeSchedule(frontier).orderBy("dst")
    })(
      s"""$CrawlEdgesCte,
         | fr AS (SELECT e.dst, count(DISTINCT e.src) AS n_inlinks
         |        FROM edges e LEFT JOIN documents d ON d.doc_id = e.dst
         |        WHERE d.doc_id IS NULL GROUP BY e.dst),
         | w1 AS (SELECT dst, n_inlinks, dst % ${Html.SiteSpace} AS host FROM fr),
         | w2 AS (SELECT dst, n_inlinks, host,
         |        CAST(row_number() OVER (PARTITION BY host ORDER BY n_inlinks DESC, dst) AS BIGINT) AS wave FROM w1)
         |SELECT dst, n_inlinks, host, wave,
         | CAST(row_number() OVER (PARTITION BY wave ORDER BY n_inlinks DESC, dst) AS BIGINT) AS slot
         |FROM w2 ORDER BY dst""".stripMargin),
    // robots.txt end to end: per-host files built closed-form (a
    // decoy badbot group that must be IGNORED, a comment, an inert
    // /private/ rule, and k%4-keyed /doc/ rules incl. an Allow that
    // overrides a shorter Disallow) are PARSED by robotsRules, then
    // every page URL gets the longest-prefix-match verdict — the twin
    // derives rules and verdicts from the same arithmetic, so the
    // hash proves group handling, parsing, and match resolution
    Q("robots_filter", (s, d) => {
      val docs = t(s, d).documents
      val hosts = docs.select((col("doc_id") % Html.SiteSpace).as("k")).distinct()
      val content = robotsFixture
      val rules = Html.robotsRules(
        hosts.select(Html.fixtureHost(col("k")).as("host"), content.as("content")))
      val urls = docs.select(concat(lit("https://"),
        Html.fixtureHost(col("doc_id") % Html.SiteSpace),
        lit("/doc/"), col("doc_id").cast("string")).as("url"))
      Html.robotsFilter(urls, rules).orderBy("url")
    }) {
      // the k%4-keyed rule table and the longest-prefix verdict derived
      // directly (no parsing — that is what the Spark side must prove)
      val ss = Html.SiteSpace
      s"""WITH hosts AS (SELECT DISTINCT doc_id % $ss AS k FROM documents),
         | rules AS (
         |   SELECT k, '/private/' AS prefix, false AS allow FROM hosts
         |   UNION ALL SELECT k, '/doc/', false FROM hosts WHERE k % 4 = 0
         |   UNION ALL SELECT k, '/doc/1', false FROM hosts WHERE k % 4 = 1
         |   UNION ALL SELECT k, '/doc/12', true FROM hosts WHERE k % 4 = 1
         |   UNION ALL SELECT k, '/doc/', true FROM hosts WHERE k % 4 = 2),
         | urls AS (SELECT doc_id, doc_id % $ss AS k,
         |    'https://' || ${sqlHost(s"doc_id%$ss")} || '/doc/' || doc_id AS url,
         |    '/doc/' || doc_id AS path
         |   FROM documents),
         | cand AS (SELECT u.url, r.prefix, r.allow
         |   FROM urls u JOIN rules r USING (k) WHERE starts_with(u.path, r.prefix)),
         | best AS (SELECT url, prefix, allow, row_number() OVER (PARTITION BY url
         |    ORDER BY length(prefix) DESC, allow DESC, prefix DESC) AS rn FROM cand)
         |SELECT u.url, coalesce(b.allow, true) AS allowed, coalesce(b.prefix, '') AS rule
         |FROM urls u LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (url)
         |ORDER BY u.url""".stripMargin
    },
    // Hamming NEAR-dup pairs over the same aHash fixture: banded
    // candidates (lossless for dist<=3 by pigeonhole over 4 sixteen-bit
    // bands — wide bands keep buckets sparse at corpus scale), exact
    // bit_count verify — perceptual dedup's real form
    Q("image_phash_near_dups", (s, d) => {
      Multimodal.aHashNearDups(Multimodal.imageAHash(pngWithResized(s, d)))
        .orderBy("id_a", "id_b")
    })(
      // the oracle may brute-force what the operator must not: all pairs
      // with positional Hamming <= 6 over the same closed-form hashes
      s"""$PhashBitsCtes,
         | pairs AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
         |    CAST(list_sum(list_transform(generate_series(1, 64),
         |      i -> CASE WHEN substring(a.ahash, i, 1) <> substring(b.ahash, i, 1)
         |           THEN 1 ELSE 0 END)) AS BIGINT) AS dist
         |   FROM bits a JOIN bits b ON a.media_id < b.media_id)
         |SELECT id_a, id_b, dist FROM pairs WHERE dist <= 3
         |ORDER BY id_a, id_b""".stripMargin),
    // REAL-JPEG decode audit (r15): the dominant crawl image codec
    // through the same in-plan decode path as the PNG family. JPEG is
    // lossy, so the oracle pins exactly what the codec cannot move —
    // SOI/EOI container markers, decoded dimensions equal to the
    // metadata struct, and the per-pixel luma error against the
    // closed-form pattern staying inside the bound (a verdict boolean
    // whose expected value is pinned; a broken decode flips it and the
    // hash gate screams)
    Q("jpeg_decode_audit", (s, d) => {
      Multimodal.jpegDecodeAudit(Multimodal.jpegMediaFromDocs(t(s, d).documents))
        .orderBy("media_id")
    })(
      // lossy-codec invariants closed-form: dimensions are exact doc_id
      // arithmetic; the marker/dims/luma verdicts are pinned TRUE (a
      // broken decode path flips a boolean and the hash screams)
      """SELECT doc_id AS media_id, true AS soi_ok, true AS eoi_ok,
        | CAST(doc_id % 64 + 16 AS INTEGER) AS width,
        | CAST(doc_id % 48 + 16 AS INTEGER) AS height,
        | true AS dims_ok, true AS luma_ok
        |FROM documents ORDER BY media_id""".stripMargin),
    // aHash drift of a lossy JPEG re-encode vs the PNG original —
    // perceptual dedup's premise as a measured per-image verdict: the
    // Hamming distance between the two aHashes stays inside the banded
    // near-dup join's working range (JpegSpec proves the bound over the
    // fixture's full 768-id pattern cycle, so it holds at any sf)
    Q("jpeg_ahash_drift", (s, d) => {
      val docs = t(s, d).documents
      Multimodal.aHashDrift(
          Multimodal.pngMediaFromDocs(docs), Multimodal.jpegMediaFromDocs(docs))
        .select(col("media_id"), (col("dist") <= 16).as("drift_ok"))
        .orderBy("media_id")
    })(
      // drift bound pinned TRUE per image — JpegSpec proves the bound
      // over the fixture's full 768-id pattern cycle, so it holds at
      // any scale factor
      """SELECT doc_id AS media_id, true AS drift_ok
        |FROM documents ORDER BY media_id""".stripMargin),
    // clipped-video dedup: every third clip also appears truncated to
    // its first frame (different container bytes); frame-0 aHash is a
    // prefix invariant, so the pair groups — byte digests cannot do it
    Q("video_fingerprint_dedup", (s, d) => {
      val orig = Multimodal.videoFromDocs(t(s, d).documents)
        .select(col("media_id"), col("content"))
      val clipEnc = udf((id: Long) => Multimodal.encodeVideo(id, 1, 16, 12))
      val clips = t(s, d).documents.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("media_id"),
          clipEnc(col("doc_id")).as("content"))
      Multimodal.videoPrefixAHash(orig.unionByName(clips))
        .groupBy(col("vhash"))
        .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"), col("vhash"))
        .orderBy("keep_id")
    })(
      // frame-0 aHash closed-form: the fixture's 16x12 frame-0 pattern
      // (pid*7) sampled at the 8x8 NN grid with the 64*v > sum bit rule
      """WITH vids AS (
        |   SELECT doc_id AS media_id, doc_id AS pid FROM documents
        |   UNION ALL SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id % 3 = 0),
        | lum AS (SELECT media_id, u.x, v.y,
        |    (((pid * 7) % 256) * 31 + ((u.x * 16) // 8) * 7 + ((v.y * 12) // 8) * 13) % 256 AS lv
        |   FROM vids, unnest(generate_series(0, 7)) u(x), unnest(generate_series(0, 7)) v(y)),
        | s AS (SELECT media_id, sum(lv) AS total FROM lum GROUP BY media_id),
        | bits AS (SELECT l.media_id,
        |    string_agg(CASE WHEN 64 * l.lv > s.total THEN '1' ELSE '0' END, '' ORDER BY l.y * 8 + l.x) AS vhash
        |   FROM lum l JOIN s USING (media_id) GROUP BY l.media_id)
        |SELECT min(media_id) AS keep_id, count(*) AS n_copies, vhash
        |FROM bits GROUP BY vhash ORDER BY keep_id""".stripMargin),
    // clipped-audio dedup: every fifth clip also appears HALF-LENGTH
    // re-encoded (different WAV bytes — byte digests cannot match it);
    // the truncation keeps the prefix waveform, so sign-bit prefix
    // fingerprints group original and clip; the twin evaluates the
    // closed-form waveform's sign bits directly
    Q("audio_fingerprint_dedup", (s, d) => {
      val orig = Multimodal.wavMediaFromDocs(t(s, d).documents)
        .select(col("media_id"), col("content"))
      val clipEnc = udf((id: Long) =>
        Multimodal.encodeWav(id, ((id % 50 + 10) * 40).toInt))
      val clips = t(s, d).documents.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("media_id"),
          clipEnc(col("doc_id")).as("content"))
      Multimodal.audioPrefixFingerprint(orig.unionByName(clips))
        .groupBy(col("afp"))
        .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"), col("afp"))
        .orderBy("keep_id")
    })(
      // 3-bit amplitude bands of the closed-form waveform over the first
      // 64 samples; the clip rows reuse the original's formula because
      // truncation does not change the prefix
      """WITH clips AS (
        |   SELECT doc_id AS media_id, doc_id AS pid FROM documents
        |   UNION ALL SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id % 5 = 0),
        | bits AS (SELECT media_id,
        |    string_agg(CAST(((pid % 97) * 31 + i * 7919) % 65536 // 8192 AS VARCHAR), '' ORDER BY i) AS afp
        |   FROM clips, unnest(generate_series(0, 63)) AS u(i) GROUP BY media_id)
        |SELECT min(media_id) AS keep_id, count(*) AS n_copies, afp
        |FROM bits GROUP BY afp ORDER BY keep_id""".stripMargin),
    // corrupt-payload tolerance: every tenth-ish image is truncated to
    // its 8-byte signature (undecodable); the safe audit reports
    // (decode_ok, dims-or-NULL) instead of killing the job — at 100 TB
    // one bad file must cost one row, not the run. The twin derives
    // ok-ness and dimensions from the same arithmetic
    Q("media_decode_audit", (s, d) => {
      val media = Multimodal.pngMediaFromDocs(t(s, d).documents)
        .select(col("media_id"),
          when(col("media_id") % 10 === 3, substring(col("content"), 1, 8))
            .otherwise(col("content")).as("content"))
      Multimodal.imageDecodeAudit(media).orderBy("media_id")
    })(
      // ok-ness and dimensions closed-form: corrupt iff media_id%10=3,
      // dims from the fixture's %64/%48 arithmetic otherwise
      """SELECT doc_id AS media_id, doc_id % 10 <> 3 AS decode_ok,
        | CASE WHEN doc_id % 10 <> 3 THEN CAST(doc_id % 64 + 16 AS INT) END AS width,
        | CASE WHEN doc_id % 10 <> 3 THEN CAST(doc_id % 48 + 16 AS INT) END AS height
        |FROM documents ORDER BY media_id""".stripMargin),
    // perceptual image dedup: every fourth image also appears as a
    // nearest-neighbor 32x24 rescale (different PNG bytes, so byte
    // digests CANNOT match it) — the integer NN mapping composes
    // exactly, so the rescaled copy provably shares its original's
    // aHash and exact dedup on the hash finds the pair; the twin
    // computes every hash closed-form from the pattern formula
    Q("image_phash_dedup", (s, d) => {
      Multimodal.imageAHash(pngWithResized(s, d))
        .groupBy(col("ahash"))
        .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"), col("ahash"))
        .orderBy("keep_id")
    })(
      // every aHash derived closed-form: the fixture pattern value at
      // the 8x8 nearest-neighbor grid, bits by the integer-exact
      // 64*v > sum rule, packed row-major; the rescaled variants reuse
      // the ORIGINAL's formula because the NN mapping composes exactly
      s"""$PhashBitsCtes
         |SELECT min(media_id) AS keep_id, count(*) AS n_copies, ahash
         |FROM bits GROUP BY ahash ORDER BY keep_id""".stripMargin),
    // crawl snapshot differencing: two closed-form snapshots (every
    // fifth URL dropped, every third re-rendered with a marker, an
    // extra host's pages added for every seventh doc) diffed by
    // content digest into added/removed/changed/unchanged — the
    // re-fetch scheduling view; the twin derives each URL's status
    // from the same arithmetic
    Q("crawl_diff", (s, d) => {
      val docs = t(s, d).documents
      def url(c: org.apache.spark.sql.Column) =
        concat(lit("https://"), Html.fixtureHost(c % Html.SiteSpace),
          lit("/doc/"), c.cast("string"))
      val oldSnap = Html.pageFromDocs(docs)
        .select(url(col("doc_id")).as("url"), col("html"))
      val newMain = Html.pageFromDocs(
          docs.withColumn("text", when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" updatemarker"))).otherwise(col("text"))))
        .where(col("doc_id") % 5 =!= 0)
        .select(url(col("doc_id")).as("url"), col("html"))
      val extra = Html.pageFromDocs(docs.where(col("doc_id") % 7 === 0))
        .select(concat(lit("https://extra.example.com/doc/"),
          col("doc_id").cast("string")).as("url"), col("html"))
      Dedup.snapshotDiff(oldSnap, newMain.unionByName(extra)).orderBy("url")
    })(
      // each URL's diff status from the same %5 / %3 / %7 arithmetic the
      // fixture snapshots are built with (removed wins over changed —
      // a page absent from the new crawl has no content to compare)
      s"""SELECT 'https://' || ${sqlHost(s"doc_id%${Html.SiteSpace}")} || '/doc/' || doc_id AS url,
         | CASE WHEN doc_id % 5 = 0 THEN 'removed'
         |      WHEN doc_id % 3 = 0 THEN 'changed'
         |      ELSE 'unchanged' END AS status
         |FROM documents
         |UNION ALL
         |SELECT 'https://extra.example.com/doc/' || doc_id AS url, 'added' AS status
         |FROM documents WHERE doc_id % 7 = 0
         |ORDER BY url""".stripMargin),
    // LEARNED quality scoring: multinomial Naive Bayes trained on a
    // deterministic curated-vs-crawl labeling (even source number =
    // positive class, doc_id%10<7 = train split), scored over the
    // whole corpus as a log-likelihood ratio — the linear "looks like
    // the curated corpus" classifier the big-LM pipelines run beside
    // the LM perplexity cut. The twin replays the identical train +
    // score chain in SQL (12-dp rounded per-token evidence,
    // DECIMAL-summed), so the hash proves training AND inference
    Q("nb_quality_score", (s, d) =>
      TextQuality.nbLogLikelihoodRatio(nbLabeled(s, d)).orderBy("doc_id"))(
      // the NB train + score chain replayed in SQL end to end
      s"""$NbCtes
         |SELECT doc_id, n_tokens, llr, llr > 0 AS pred_pos
         |FROM nb ORDER BY doc_id""".stripMargin),
    // the classifier you can't trust is worse than none: reliability
    // diagram over the HELD-OUT split — sigmoid-calibrated llr binned
    // into 10 probability bins, mean predicted p vs empirical positive
    // rate per bin. exp() rounded(12) before the DECIMAL sum (the
    // decayed_counts device); every rate is one division of exact ints
    Q("nb_calibration", (s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(28, 12)
      val labeled = nbLabeled(s, d)
      val scored = TextQuality.nbLogLikelihoodRatio(labeled)
        .join(labeled.select(col("doc_id"), col("is_pos"), col("is_train")), "doc_id")
        .where(!col("is_train"))
      scored
        .select(col("is_pos"),
          round(lit(1.0) / (lit(1.0) + exp(-col("llr"))), 12).as("p"))
        .withColumn("bin", least(floor(col("p") * 10).cast("long"), lit(9L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("is_pos"), lit(1L)).otherwise(lit(0L))).as("n_pos"),
          round(sum(col("p").cast(dec)).cast("double")
            / count(lit(1)).cast("double"), 6).as("mean_p"))
        .withColumn("emp_rate",
          round(col("n_pos").cast("double") / col("n").cast("double"), 6))
        .withColumn("gap", round(abs(col("mean_p") - col("emp_rate")), 6))
        .orderBy("bin")
    })(
      // held-out reliability bins off the same nb chain: identical
      // sigmoid association, rounded(12) p DECIMAL-summed, rates as
      // single divisions, gap from the two ROUNDED columns
      s"""$NbCtes,
         | ev AS (SELECT nb.llr, d.is_pos FROM nb JOIN d USING (doc_id) WHERE NOT d.is_train),
         | pp AS (SELECT is_pos, round(1.0 / (1.0 + exp(-llr)), 12) AS p FROM ev),
         | b AS (SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin, is_pos,
         |        CAST(p AS DECIMAL(28,12)) AS p FROM pp),
         | g AS (SELECT bin, count(*) AS n,
         |        CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |        round(CAST(sum(p) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_p
         |        FROM b GROUP BY bin),
         | g2 AS (SELECT bin, n, n_pos, mean_p,
         |        round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS emp_rate FROM g)
         |SELECT bin, n, n_pos, mean_p, emp_rate,
         | round(abs(mean_p - emp_rate), 6) AS gap
         |FROM g2 ORDER BY bin""".stripMargin),
    // the classifier ACTED ON: NB llr drives the per-language
    // histogram-two-pass quantile cut, beside perplexity_filter and
    // authority_filter on the same seam
    Q("classifier_filter", (s, d) => {
      val tt = t(s, d)
      val scored = tt.documents.select(col("doc_id"), col("lang"))
        .join(TextQuality.nbLogLikelihoodRatio(nbLabeled(s, d))
          .select(col("doc_id"), col("llr").as("score")), Seq("doc_id"))
      Corpus.quantileFilterByScore(scored, keep = 0.5,
        sizeHint = Some(tt.rowCountStat("documents"))).orderBy("doc_id")
    })(
      // NB llr through the same percent_rank cut as perplexity_filter
      s"""$NbCtes,
         | scd AS (SELECT d2.doc_id, d2.lang, nb.llr AS score
         |         FROM documents d2 JOIN nb USING (doc_id)),
         | r AS (SELECT doc_id, lang, score,
         |         percent_rank() OVER (PARTITION BY lang ORDER BY score) AS pr FROM scd)
         |SELECT doc_id, lang, score, pr FROM r WHERE pr >= 0.5 ORDER BY doc_id""".stripMargin),
    // the eval every learned gate owes before it filters: exact
    // midrank-tie ROC AUC of the NB llr on the HELD-OUT split —
    // all-integer rank-sum (doubled midranks) with `below` from the
    // adaptive TotalOrder prefix sum, one double division at the end.
    // The twin keeps the naive cumulative-window formulation, so the
    // hash proves the decomposition, not just the arithmetic
    Q("classifier_auc_eval", (s, d) => {
      val labeled = nbLabeled(s, d)
      val heldout = TextQuality.nbLogLikelihoodRatio(labeled)
        .join(labeled.select(col("doc_id"), col("is_pos"), col("is_train")), "doc_id")
        .where(!col("is_train"))
      TextQuality.rankAuc(heldout.withColumnRenamed("llr", "score"))
    })(
      // the naive window formulation of midrank AUC — the Spark side
      // must reproduce it through the histogram + TotalOrder prefix sum
      s"""$NbCtes,
         | ev AS (SELECT nb.llr AS s, d.is_pos FROM nb JOIN d USING (doc_id)
         |        WHERE NOT d.is_train),
         | h AS (SELECT s, count(*) AS c,
         |    CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos
         |   FROM ev GROUP BY s),
         | p AS (SELECT s, c, c_pos, CAST(coalesce(sum(c) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
         |   FROM h),
         | a AS (SELECT
         |    CAST(sum(CAST(c_pos AS HUGEINT) * (2*below + c + 1)) AS HUGEINT) AS tr,
         |    CAST(sum(c_pos) AS BIGINT) AS n_pos,
         |    CAST(sum(c - c_pos) AS BIGINT) AS n_neg FROM p)
         |SELECT n_pos, n_neg,
         | round(CAST(tr - CAST(n_pos AS HUGEINT)*(n_pos+1) AS DOUBLE) /
         |       CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS DOUBLE), 6) AS auc
         |FROM a""".stripMargin),
    // C4's document-level lexicon drop on CLEANED tokens (planted
    // spam words, one UPPERCASE+punctuated so the hash proves the
    // tokenizer path, not just the contains)
    Q("badword_filter", (s, d) => {
      val id = col("doc_id")
      val planted = t(s, d).documents.withColumn("text",
        when(id % 11 === 0, concat(col("text"), lit(" casino")))
          .when(id % 13 === 0, concat(col("text"), lit(" VIAGRA!")))
          .otherwise(col("text")))
      TextQuality.badWordFilter(planted, Seq("casino", "viagra", "lottery"))
        .orderBy("doc_id")
    })(
      // the planted-lexicon replay over the cleaned-token pipeline
      s"""WITH pl AS (SELECT doc_id,
         |   CASE WHEN doc_id % 11 = 0 THEN text || ' casino'
         |        WHEN doc_id % 13 = 0 THEN text || ' VIAGRA!'
         |        ELSE text END AS text FROM documents),
         | w AS (SELECT doc_id, list_filter(list_transform(
         |     list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), t -> length(t) > 0),
         |     t -> lower(regexp_replace(t, '$P', '', 'g'))), x -> length(x) > 0) AS ws
         |   FROM pl),
         | b AS (SELECT doc_id, CAST(len(list_filter(ws,
         |     x -> list_contains(['casino','viagra','lottery'], x))) AS BIGINT) AS n_bad
         |   FROM w)
         |SELECT doc_id, n_bad, n_bad = 0 AS kept FROM b ORDER BY doc_id""".stripMargin),
    // logistic regression TRAINED IN THE ENGINE (3 full-batch GD steps
    // over the quality-feature ratios, driver holding only the d-sized
    // coefficient vector): the discriminative sibling of the NB
    // classifier. The twin unrolls the identical steps as CTEs — the
    // hash proves three rounds of distributed gradient aggregation
    Q("logreg_quality_weights", (s, d) => {
      val w = TextQuality.logregTrainQuality(nbLabeled(s, d))
      val rows = TextQuality.LogregFeatures.zip(w).zipWithIndex
        .map { case ((f, wt), i) => (i.toLong, f, wt) }
      import s.implicits._
      rows.toDF("idx", "feature", "weight").orderBy("idx")
    })(
      // three unrolled GD steps as CTEs; final weights unpivoted
      s"""$LogregCtes
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS idx, 'bias' AS feature, w1 AS weight FROM s3
         |  UNION ALL SELECT CAST(1 AS BIGINT), 'stopword_ratio', w2 FROM s3
         |  UNION ALL SELECT CAST(2 AS BIGINT), 'punct_ratio', w3 FROM s3
         |  UNION ALL SELECT CAST(3 AS BIGINT), 'digit_ratio', w4 FROM s3
         |  UNION ALL SELECT CAST(4 AS BIGINT), 'avg_token_len_d10', w5 FROM s3)
         |ORDER BY idx""".stripMargin),
    // the trained model ACTED ON: held-out confusion + accuracy; the
    // scoring dot product is mul/add only, so the 0-threshold verdict
    // is bit-deterministic across engines
    Q("logreg_quality_eval", (s, d) => {
      val labeled = nbLabeled(s, d)
      TextQuality.logregHeldoutEval(labeled,
        TextQuality.logregTrainQuality(labeled))
    })(
      // held-out confusion off the same trained s3 weights; the scoring
      // dot is mul/add only — bit-deterministic on both engines
      s"""$LogregCtes,
         | te AS (SELECT * FROM fx WHERE NOT is_train),
         | scx AS (SELECT is_pos,
         |    (s3.w1*x1 + s3.w2*x2 + s3.w3*x3 + s3.w4*x4 + s3.w5*x5) > 0 AS pred
         |   FROM te, s3),
         | cc AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
         |    CAST(sum(CASE WHEN is_pos AND pred THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN NOT is_pos AND pred THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN is_pos AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN NOT is_pos AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |   FROM scx)
         |SELECT n_test, tp, fp, fn, tn,
         | round(CAST(tp + tn AS DOUBLE) / CAST(n_test AS DOUBLE), 6) AS accuracy
         |FROM cc""".stripMargin),
    // multi-signal quality fusion (the dedup_graph_fusion of the
    // quality ladder): NB llr, stopword density and mean token length
    // z-normalized off DECIMAL-summed moments and blended (+1, +1, −1)
    // into ONE calibrated score deciding the keep — every float op a
    // single IEEE correctly-rounded step, so the twin is bit-identical.
    // (r15: the third signal was punct_ratio, which is constant 0 on
    // the all-lowercase-words fixture at every SF — the blend emitted
    // NULL for every row and the r14 hash-green was two engines
    // agreeing on the degenerate output. qualityEnsemble now fails
    // loud on sd = 0, and the registered blend uses avg_token_len,
    // which varies at all SFs.)
    Q("quality_ensemble", (s, d) => {
      val llr = TextQuality.nbLogLikelihoodRatio(nbLabeled(s, d))
        .select(col("doc_id"), col("llr"))
      val feats = TextQuality.qualityFeatures(t(s, d).documents)
        .select(col("doc_id"), col("stopword_ratio"), col("avg_token_len"))
      val scored = t(s, d).documents.select(col("doc_id"), col("lang"))
        .join(llr, "doc_id").join(feats, "doc_id")
      Corpus.qualityEnsemble(scored,
          Seq(("llr", 1.0), ("stopword_ratio", 1.0), ("avg_token_len", -1.0)))
        .select(col("doc_id"), col("lang"), col("ensemble_score"), col("kept"))
        .orderBy("doc_id")
    })(
      // the same three signals, naive formulation: per-signal moments
      // from DECIMAL sums, z-blend replayed literally — bit-identical
      // float path on both engines (avg token length = one double
      // division of two exact integers on each engine)
      s"""$NbCtes,
         | tq AS (SELECT doc_id, lang, text,
         |    list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS tk
         |   FROM documents),
         | f AS (SELECT doc_id, lang,
         |    len(list_filter(tk, x -> list_contains(['the','a','of','and','to','in','is','it'], lower(x)))) / len(tk) AS stop_r,
         |    list_sum(list_transform(tk, x -> length(x))) / len(tk) AS atl
         |   FROM tq),
         | j AS (SELECT nb.doc_id, f.lang, nb.llr, f.stop_r, f.atl
         |   FROM nb JOIN f USING (doc_id)),
         | mo AS (SELECT count(*) AS n,
         |    CAST(sum(CAST(llr AS DECIMAL(28,12))) AS DOUBLE) AS s_l,
         |    CAST(sum(CAST(round(llr*llr, 12) AS DECIMAL(28,12))) AS DOUBLE) AS q_l,
         |    CAST(sum(CAST(stop_r AS DECIMAL(28,12))) AS DOUBLE) AS s_s,
         |    CAST(sum(CAST(round(stop_r*stop_r, 12) AS DECIMAL(28,12))) AS DOUBLE) AS q_s,
         |    CAST(sum(CAST(atl AS DECIMAL(28,12))) AS DOUBLE) AS s_p,
         |    CAST(sum(CAST(round(atl*atl, 12) AS DECIMAL(28,12))) AS DOUBLE) AS q_p
         |   FROM j),
         | z AS (SELECT j.doc_id, j.lang,
         |    round((1.0 * ((llr - s_l/n) / sqrt(greatest(q_l/n - (s_l/n)*(s_l/n), 0.0)))
         |         + 1.0 * ((stop_r - s_s/n) / sqrt(greatest(q_s/n - (s_s/n)*(s_s/n), 0.0)))
         |         + -1.0 * ((atl - s_p/n) / sqrt(greatest(q_p/n - (s_p/n)*(s_p/n), 0.0)))) / 3, 6)
         |      AS ensemble_score
         |   FROM j, mo)
         |SELECT doc_id, lang, ensemble_score, ensemble_score >= 0 AS kept
         |FROM z ORDER BY doc_id""".stripMargin),
    // the URL front door AS A STREAM: doc drops arrive file-by-file,
    // every batch's raw URLs (tracking junk + shuffled real params —
    // the url_strip_tracking fixture) canonicalize in-stream, the
    // stateful dedup admits each fetch key ONCE across batches, and
    // the UT1-style blocklist then grades the drained frontier — the
    // admitted verdict set must equal the batch closed form
    Q("streaming_url_frontier", (s, d) => {
      val (ss, stream) = docStream(s, d)
      val raw = trackedUrl
      val canon = stream.select(Html.stripTrackingParams(raw).as("url"))
        .dropDuplicates("url")
      val admitted = graft.streaming.EventStreams.runToMemory(ss, canon,
        s"stream_urlfrontier_${System.nanoTime()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
      val ks = t(ss, d).documents.select((col("doc_id") % Html.SiteSpace).as("k")).distinct()
      val rules = blocklistRules(ks)
      Html.blocklistFilter(admitted, rules).orderBy("url")
    }) {
      // the drained frontier's closed form: one canonical key per m
      // triple, graded by the same rule arithmetic as
      // url_blocklist_filter (k = m%ss; path excludes the query)
      val ss = Html.SiteSpace
      s"""WITH x AS (SELECT DISTINCT doc_id - (doc_id % 3) AS m FROM documents),
         | u AS (SELECT m, m % $ss AS k FROM x),
         | uu AS (SELECT m, k,
         |    'https://' || ${sqlHost("k")} || '/doc/' || m || '?a=1&page=2' AS url,
         |    '/doc/' || m AS path FROM u),
         | cand AS (
         |   SELECT m, ${sqlHost("k")} AS rule_host, '' AS prefix
         |     FROM uu WHERE k % 7 = 0
         |   UNION ALL
         |   SELECT m, ${sqlHost("k")}, '/doc/1'
         |     FROM uu WHERE k % 5 = 0 AND starts_with(path, '/doc/1')
         |   UNION ALL
         |   SELECT m, 'shop.example.co.uk', '/doc/7'
         |     FROM uu WHERE k % 3 = 0 AND starts_with(path, '/doc/7')),
         | best AS (SELECT m, rule_host, prefix, row_number() OVER (
         |    PARTITION BY m
         |    ORDER BY length(prefix) DESC, rule_host DESC, prefix DESC) AS rn
         |   FROM cand)
         |SELECT uu.url, b.m IS NOT NULL AS blocked,
         | coalesce(b.rule_host, '') AS rule_host,
         | coalesce(b.prefix, '') AS rule_prefix
         |FROM uu LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (m)
         |ORDER BY uu.url""".stripMargin
    },
    // the FULL crawl admission policy under one streaming transaction
    // (r15): canonicalize (tracking-param strip) → stateful first-seen
    // dedup across micro-batches → UT1 blocklist (bounded suffix-chain
    // equi-join) → robots longest-prefix verdict, landing one
    // batch-keyed admission row per fetch key. Every stage is
    // batch-proven separately (url_strip_tracking, canonical_dedup,
    // url_blocklist_filter, robots_filter, streaming_url_frontier);
    // the drained output must equal the batch closed form, which is
    // the twin
    Q("streaming_crawl_admission", (s, d) => {
      val (ss, stream) = docStream(s, d)
      val id = col("doc_id")
      val raw = trackedUrl
      val urlStream = stream.select(raw.as("url"))
      val ks = t(ss, d).documents.select((col("doc_id") % Html.SiteSpace).as("k")).distinct()
      val blockRules = blocklistRules(ks)
      val robotsContent = robotsFixture
      val robotsRules = Html.robotsRules(
        ks.select(Html.fixtureHost(col("k")).as("host"), robotsContent.as("content")))
      val landDir = java.nio.file.Files.createTempDirectory("graft-admission").toString
      graft.streaming.IngestPipeline
        .runCrawlAdmission(ss, urlStream, blockRules, robotsRules, landDir)
        .orderBy("url")
    }) {
      // the full admission policy as its batch closed form: canonical
      // fetch keys (one per m), blocklist longest-prefix verdict, robots
      // longest-prefix verdict (Allow wins ties), admitted = ¬blocked ∧
      // allowed — the drained stream must equal this exactly
      val ss = Html.SiteSpace
      s"""WITH x AS (SELECT DISTINCT doc_id - (doc_id % 3) AS m FROM documents),
         | u AS (SELECT m, m % $ss AS k,
         |    'https://' || ${sqlHost(s"m%$ss")} || '/doc/' || m || '?a=1&page=2' AS url,
         |    '/doc/' || m AS path FROM x),
         | bcand AS (
         |   SELECT m, ${sqlHost("k")} AS rule_host, '' AS prefix
         |     FROM u WHERE k % 7 = 0
         |   UNION ALL
         |   SELECT m, ${sqlHost("k")}, '/doc/1'
         |     FROM u WHERE k % 5 = 0 AND starts_with(path, '/doc/1')
         |   UNION ALL
         |   SELECT m, 'shop.example.co.uk', '/doc/7'
         |     FROM u WHERE k % 3 = 0 AND starts_with(path, '/doc/7')),
         | bbest AS (SELECT m, rule_host, prefix, row_number() OVER (
         |    PARTITION BY m
         |    ORDER BY length(prefix) DESC, rule_host DESC, prefix DESC) AS rn
         |   FROM bcand),
         | hosts AS (SELECT DISTINCT k FROM u),
         | rrules AS (
         |   SELECT k, '/private/' AS rprefix, false AS allow FROM hosts
         |   UNION ALL SELECT k, '/doc/', false FROM hosts WHERE k % 4 = 0
         |   UNION ALL SELECT k, '/doc/1', false FROM hosts WHERE k % 4 = 1
         |   UNION ALL SELECT k, '/doc/12', true FROM hosts WHERE k % 4 = 1
         |   UNION ALL SELECT k, '/doc/', true FROM hosts WHERE k % 4 = 2),
         | rcand AS (SELECT u.m, r.rprefix, r.allow
         |   FROM u JOIN rrules r USING (k) WHERE starts_with(u.path, r.rprefix)),
         | rbest AS (SELECT m, rprefix, allow, row_number() OVER (PARTITION BY m
         |    ORDER BY length(rprefix) DESC, allow DESC, rprefix DESC) AS rn
         |   FROM rcand)
         |SELECT u.url, bb.m IS NOT NULL AS blocked,
         | coalesce(bb.rule_host, '') AS rule_host,
         | coalesce(bb.prefix, '') AS rule_prefix,
         | coalesce(rb.allow, true) AS allowed,
         | coalesce(rb.rprefix, '') AS robots_rule,
         | (bb.m IS NULL) AND coalesce(rb.allow, true) AS admitted
         |FROM u LEFT JOIN (SELECT * FROM bbest WHERE rn = 1) bb USING (m)
         |       LEFT JOIN (SELECT * FROM rbest WHERE rn = 1) rb USING (m)
         |ORDER BY u.url""".stripMargin
    },
    // the post-training front door AS A STREAM: transcript drops
    // arrive file-by-file, render→parse→audit→fingerprint run per
    // micro-batch (a conversation arrives whole in one row, so the
    // audit is batch-local — zero cross-batch state), the landing is
    // batch-keyed constant-width audit rows + 16-byte digests, and
    // the cross-batch response dedup is an EXACT FINISH on the
    // drained union (min-id keeper is order-independent); drained
    // output == the one-shot batch composition, which is the twin
    Q("streaming_sft_admission", (s, d) => {
      val (ss, stream) = docStream(s, d)
      val landDir = java.nio.file.Files.createTempDirectory("graft-sft-admission").toString
      graft.streaming.IngestPipeline
        .runSftAdmission(ss, stream.select(col("doc_id"), col("text")), landDir)
        .orderBy("conv_id")
    })(
      // the drained streaming admission equals the one-shot batch
      // composition: audit flags recomputed via DuckDB's lag window,
      // fingerprints via ordered string_agg, min-id keeper in SQL
      s"""$SftTurnsCtes,
         | prevr AS (SELECT conv_id, turn_idx, role, content,
         |   lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
         |   FROM sft_turns),
         | aud AS (SELECT conv_id, count(*) AS n_turns,
         |   CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) AS BIGINT) AS same_role_runs,
         |   coalesce(min(CASE WHEN role = 'user' THEN turn_idx END) <
         |     coalesce(min(CASE WHEN role = 'assistant' THEN turn_idx END),
         |       9223372036854775807), FALSE) AS starts_ok,
         |   arg_max(role, turn_idx) = 'assistant' AS ends_assistant,
         |   max(CASE WHEN content = '' THEN 1 ELSE 0 END) = 1 AS has_empty,
         |$SftOkFpCtes
         | grp AS (SELECT resp_fp, count(*) AS group_size, min(conv_id) AS keeper
         |   FROM fp GROUP BY resp_fp)
         |SELECT a.conv_id, a.n_turns, a.same_role_runs, a.starts_ok,
         | a.ends_assistant, a.has_empty, a.ok, fp.resp_fp,
         | coalesce(grp.group_size, 1) AS group_size,
         | (fp.resp_fp IS NULL OR a.conv_id = grp.keeper) AS keep,
         | (a.ok AND (fp.resp_fp IS NULL OR a.conv_id = grp.keeper)) AS admitted
         |FROM aud a LEFT JOIN fp USING (conv_id) LEFT JOIN grp USING (resp_fp)
         |ORDER BY a.conv_id""".stripMargin),
    // the crawl front door AS A STREAM: page drops arrive file-by-file,
    // href extraction runs per micro-batch, and the edge dedup becomes
    // Structured Streaming's stateful Deduplicate (Html.outlinks'
    // distinct, unchanged) — drained output must equal the batch edge
    // list, so the closed-form twin is shared with html_outlinks
    Q("streaming_outlinks", (s, d) => {
      val (ss, pages) = pageStream(s, d)
      EventStreams.runToMemory(ss, Html.outlinks(pages),
          s"stream_outlinks_${System.nanoTime()}",
          org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy("src", "dst")
    })(
      // drained stateful-dedup edge stream must converge to the batch
      // edge list — same closed-form twin
      outlinksTwinSql),
    // the FULL crawl-to-corpus pipeline as a stream: HTML page drops →
    // per-micro-batch boilerplate extraction (the batch-proven
    // lossless extractor, metadata passthrough) → exact dedup against
    // the persisted digest store → temperature resample → chunk →
    // compacted landing — every stage inside the same batch-keyed
    // transaction. The store seed and the oracle both work on the
    // COLLAPSED text (what extraction provably recovers), so the twin
    // is the one-shot batch chain over whitespace-normalized documents
    Q("streaming_html_ingest", (s, d) => {
      val (ss, pages) = pageStream(s, d)
      val collapsed = concat_ws(" ", TextOps.rawTokens(col("text")))
      val storeDir = java.nio.file.Files.createTempDirectory("graft-htmlingest-store").toString
      BatchStore(storeDir).seed(t(ss, d).documents.where(col("doc_id") % 2 === 0)
        .select(sha2(collapsed, 256).as("h")))
      val rates = Corpus.temperatureRates(
        t(ss, d).documents.select(col("doc_id"), col("lang"), collapsed.as("text")))
      val out = java.nio.file.Files.createTempDirectory("graft-htmlingest-out").toString
      val docsStream = Html.extractMain(pages)
        .select(col("doc_id"), col("lang"), col("main_text").as("text"))
      graft.streaming.IngestPipeline
        .runIngestStream(ss, docsStream, storeDir, rates, out,
          targetRowsPerFile = 5000L, bloomBits = 1L << 20)
        .orderBy("doc_id", "chunk_idx")
    })(
      // the streaming ingest drained == ONE batch pass with the same
      // store seed and the PROFILE-derived rates (n over the full
      // documents table, not the survivors — the policy-snapshot
      // distinction vs pipeline_ingest's self-derived rates)
      // the crawl-to-corpus stream's twin: the SAME one-shot chain over
      // whitespace-COLLAPSED documents (docsx) — what the lossless
      // extractor provably recovers from the boilerplated pages — so the
      // hash proves extraction, dedup, resample and chunking end-to-end
      s"""WITH docsx AS (SELECT doc_id, lang,
         |    array_to_string(list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0), ' ') AS text
         |  FROM documents),
         |${ingestCycleSql("docsx", profile = "docsx")}""".stripMargin),
    // paragraph dedup AS A STREAM: the cookie-boilerplated page drops
    // arrive in doc_id order, each micro-batch extracts blocks and
    // drops every paragraph already seen (first-occurrence-wins — a
    // stream cannot retract landed docs) against the persisted
    // paragraph-hash store, inside the batch-keyed transaction. File
    // order makes first-occurrence global argmin by (doc_id, pos), so
    // the twin is one row_number window over the closed-form paragraph
    // relation
    Q("streaming_paragraph_ingest", (s, d) => {
      val (ss, rawPages) = pageStream(s, d)
      val storeDir = java.nio.file.Files.createTempDirectory("graft-parastore").toString
      BatchStore(storeDir).seed(ss.range(0).select(col("id").as("ph")))
      val out = java.nio.file.Files.createTempDirectory("graft-paraout").toString
      val pages = boilerplated(rawPages)
      graft.streaming.IngestPipeline.runParaIngest(ss, pages, storeDir, out)
        .orderBy("doc_id")
    })(
      // first-occurrence-wins over the same closed-form paragraph
      // relation as paragraph_dedup: one row_number window ordered by
      // (doc_id, pos) — doc_id-ordered file drops make stream order and
      // global order coincide
      s"""$ParaRelCtes,
         | r AS (SELECT doc_id, pos, para,
         |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn FROM paras)
         |SELECT doc_id, count(*) AS n_paras, count(*) FILTER (WHERE rn = 1) AS n_kept,
         | coalesce(string_agg(para, ' ' ORDER BY pos) FILTER (WHERE rn = 1), '') AS text
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Naive-Bayes train + score chain, shared by the nb_quality_score
    * and classifier_filter twins: identical labels (even source number
    * positive, doc_id%10<7 train), identical smoothing and division
    * association as the Spark expressions, 12-dp rounded evidence
    * DECIMAL-summed, prior added as a 12-dp DECIMAL. */
  private val NbCtes =
    s"""WITH d AS (SELECT doc_id,
       |    (CAST(substr(source, 4, 10) AS INT) % 2) = 0 AS is_pos,
       |    doc_id % 10 < 7 AS is_train,
       |    $CleanTokensSql AS ws
       |  FROM documents),
       | toks AS (SELECT doc_id, is_pos, is_train, unnest(ws) AS word FROM d),
       | m AS (SELECT word,
       |     count(*) FILTER (WHERE is_pos) AS c1,
       |     count(*) FILTER (WHERE NOT is_pos) AS c0
       |   FROM toks WHERE is_train GROUP BY word),
       | scal AS (SELECT sum(c1) + count(*) AS d1, sum(c0) + count(*) AS d0 FROM m),
       | pri AS (SELECT CAST(round(ln((count(*) FILTER (WHERE is_pos)) * 1.0 /
       |           (count(*) FILTER (WHERE NOT is_pos))), 12) AS DECIMAL(28,12)) AS prior
       |   FROM d WHERE is_train),
       | sc AS (SELECT t.doc_id,
       |     CAST(round(ln((coalesce(m.c1, 0) + 1) * 1.0 / s.d1)
       |              - ln((coalesce(m.c0, 0) + 1) * 1.0 / s.d0), 12) AS DECIMAL(28,12)) AS l
       |   FROM toks t LEFT JOIN m USING (word) CROSS JOIN scal s),
       | nb AS (SELECT doc_id, count(*) AS n_tokens,
       |     round(CAST(sum(l) + (SELECT prior FROM pri) AS DOUBLE), 6) AS llr
       |   FROM sc GROUP BY doc_id)""".stripMargin

  /** The logreg train chain replayed in SQL: quality-feature ratios
    * (text_quality's exact expressions), then THREE unrolled
    * gradient-ascent steps — per-example terms rounded(12) and
    * DECIMAL-summed (the NB evidence device), new weights rounded(9)
    * — ending in CTE `s3` carrying the final w1..w5. */
  private val LogregCtes = {
    val stops = "'the','a','of','and','to','in','is','it'"
    def dot(w: String) =
      s"($w.w1*x1 + $w.w2*x2 + $w.w3*x3 + $w.w4*x4 + $w.w5*x5)"
    def gstep(g: String, from: String, dotExpr: String) =
      s"""$g AS (SELECT
         |${(1 to 5).map(i => s"    sum(CAST(round(x$i * ((CASE WHEN is_pos THEN 1.0 ELSE 0.0 END) - 1.0/(1.0 + exp(-$dotExpr))), 12) AS DECIMAL(28,12))) AS g$i").mkString(",\n")}
         |   FROM $from)""".stripMargin
    def wstep(s: String, g: String, prev: Option[String]) = {
      val terms = (1 to 5).map { i =>
        val p = prev.map(w => s"$w.w$i").getOrElse("0.0")
        s"    round($p + 0.5*CAST($g.g$i AS DOUBLE)/nn.n, 9) AS w$i"
      }.mkString(",\n")
      s"$s AS (SELECT\n$terms\n   FROM $g${prev.map(w => s", $w").getOrElse("")}, nn)"
    }
    s"""WITH lf AS (SELECT doc_id,
       |    (CAST(substr(source, 4, 10) AS INT) % 2) = 0 AS is_pos,
       |    doc_id % 10 < 7 AS is_train, text,
       |    list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS tk
       |  FROM documents),
       | fx AS (SELECT doc_id, is_pos, is_train,
       |    1.0 AS x1,
       |    len(list_filter(tk, x -> list_contains([$stops], lower(x)))) / len(tk) AS x2,
       |    (length(text) - length(regexp_replace(text, '$P', '', 'g'))) / length(text) AS x3,
       |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text) AS x4,
       |    (CAST(list_sum(list_transform(tk, x -> length(x))) AS BIGINT) / len(tk)) / 10 AS x5
       |  FROM lf),
       | tr AS (SELECT * FROM fx WHERE is_train),
       | nn AS (SELECT count(*) AS n FROM tr),
       | ${gstep("g1", "tr", "(0.0*x1 + 0.0*x2 + 0.0*x3 + 0.0*x4 + 0.0*x5)")},
       | ${wstep("s1", "g1", None)},
       | ${gstep("g2", "tr, s1", dot("s1"))},
       | ${wstep("s2", "g2", Some("s1"))},
       | ${gstep("g3", "tr, s2", dot("s2"))},
       | ${wstep("s3", "g3", Some("s2"))}""".stripMargin
  }

  /** The image-phash fixture's closed-form aHash bits (originals +
    * rescaled variants), ending in CTE `bits` — shared by the exact
    * dedup and Hamming near-dup twins. */
  private def PhashBitsCtes: String =
    """WITH imgs AS (
      |   SELECT doc_id AS media_id, doc_id AS pid FROM documents
      |   UNION ALL SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id % 4 = 0),
      | px AS (SELECT media_id, pid, (pid % 64 + 16) AS w, (pid % 48 + 16) AS h, u.x, v.y
      |   FROM imgs, unnest(generate_series(0, 7)) u(x), unnest(generate_series(0, 7)) v(y)),
      | lum AS (SELECT media_id, x, y,
      |    ((pid % 256) * 31 + ((x * w) // 8) * 7 + ((y * h) // 8) * 13) % 256 AS v FROM px),
      | s AS (SELECT media_id, sum(v) AS total FROM lum GROUP BY media_id),
      | bits AS (SELECT l.media_id,
      |    string_agg(CASE WHEN 64 * l.v > s.total THEN '1' ELSE '0' END, '' ORDER BY l.y * 8 + l.x) AS ahash
      |   FROM lum l JOIN s USING (media_id) GROUP BY l.media_id)""".stripMargin

  /** The closed-form decorated-line relation of [[c4LineFixture]]
    * (12-word slices with %5 punctuation-loss / %7 brace dirt plus the
    * four injected tell lines), shared by the c4_line_filter and
    * span_scrub twins. */
  private def C4LinesCtes: String =
    """WITH w AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS ws
      |  FROM documents),
      | np AS (SELECT doc_id, ws, CAST((len(ws) + 11) // 12 AS INT) AS n,
      |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS off FROM w),
      | body AS (SELECT doc_id, i + 1 + off AS pos,
      |    CASE WHEN (doc_id + i) % 5 = 0
      |           THEN array_to_string(list_slice(ws, (i-1)*12+1, i*12), ' ')
      |         WHEN (doc_id + i) % 7 = 1
      |           THEN array_to_string(list_slice(ws, (i-1)*12+1, i*12), ' ') || ' {.'
      |         ELSE array_to_string(list_slice(ws, (i-1)*12+1, i*12), ' ') || '.'
      |    END AS line
      |  FROM np, unnest(generate_series(1, n)) AS u(i)),
      | lines AS (
      |   SELECT doc_id, 0 AS pos, 'Enable javascript to view this site properly.' AS line FROM np
      |   UNION ALL SELECT doc_id, 1, 'This sentence has exactly seven useful words.' FROM np
      |   UNION ALL SELECT doc_id, 2, 'A shared preamble sentence appears in even documents.' FROM np WHERE off = 1
      |   UNION ALL SELECT doc_id, pos, line FROM body
      |   UNION ALL SELECT doc_id, n + 2 + off, 'Lorem ipsum dolor sit amet consectetur adipiscing elit.' FROM np
      |   UNION ALL SELECT doc_id, n + 3 + off, 'Too short.' FROM np)""".stripMargin

  /** Paragraph dedup (paragraph_dedup's df cut) and the Gopher gate over
    * the deduped text, after the paragraph relation: dfr, dd, tk, f, g. */
  private lazy val DedupGopherCtes: String =
    s"""| dfr AS (SELECT para, count(DISTINCT doc_id) AS df FROM paras GROUP BY para),
       | dd AS (SELECT p.doc_id,
       |    coalesce(string_agg(p.para, ' ' ORDER BY p.pos) FILTER (WHERE df <= 1), '') AS text
       |  FROM paras p JOIN dfr USING (para) GROUP BY p.doc_id),
       | tk AS (SELECT doc_id, text,
       |    list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS tk
       |  FROM dd),
       | f AS (SELECT doc_id, text,
       |    CAST(len(tk) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk) AS mean_word_len,
       |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(tk) AS alpha_frac,
       |    CAST(len(list_filter(tk, x -> list_contains([$EnStopsSqlList], lower(x)))) AS BIGINT) AS n_stop_hits
       |  FROM tk),
       | g AS (SELECT doc_id, text FROM f
       |  WHERE n_words BETWEEN 50 AND 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       |    AND alpha_frac >= 0.8 AND n_stop_hits >= 2),""".stripMargin

  /** mixture_solve's rate arithmetic over the gated docs (mj), ending
    * in `rates` (lang, keep_permille). */
  private lazy val MixtureRatesCtes: String =
    s"""| mj AS (SELECT g.doc_id, d2.lang, g.text FROM g JOIN documents d2 ON g.doc_id = d2.doc_id),
       | prof AS (SELECT lang, count(*) AS n_l FROM mj GROUP BY 1),
       | tt AS (SELECT * FROM (VALUES ('en', 0.5e0), ('de', 0.3e0), ('zh', 0.2e0)) AS t(lang, t)),
       | pj AS (SELECT prof.lang, prof.n_l, tt.t FROM prof JOIN tt USING (lang)),
       | sr AS (SELECT min(CAST(n_l AS DOUBLE) / t) AS scale FROM pj),
       | rates AS (SELECT lang,
       |   CAST(floor(1000.0e0 * t * (SELECT scale FROM sr) / CAST(n_l AS DOUBLE)) AS BIGINT) AS keep_permille
       |  FROM pj),""".stripMargin

  /** The warc-to-training twins' tail over `mixed`: the k+1 priority
    * pick (priority_sample), the percent-rank curriculum
    * (curriculum_shards), 128-char chunks, the recursive BPE applier
    * and the shard-cumsum packing (packed_bpe). */
  private lazy val SampleChunkPackSql: String =
    s"""| keyed AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS weight,
       |    greatest(CAST(floor((CASE WHEN (((doc_id % 2147483648) * 2654435761) % 4294967296) = 0 THEN 4294967296 ELSE (((doc_id % 2147483648) * 2654435761) % 4294967296) END) * 1048576
       |         / CAST(length(text) AS DOUBLE)) AS BIGINT), 1) AS pkey
       |   FROM mixed WHERE length(text) > 0),
       | top AS (SELECT * FROM keyed ORDER BY pkey, doc_id LIMIT 101),
       | ranked AS (SELECT top.*, row_number() OVER (ORDER BY pkey, doc_id) AS rn FROM top),
       | stats AS (SELECT count(*) AS cnt, max(pkey) AS mx FROM top),
       | samp AS (SELECT doc_id, weight,
       |   round(greatest(CAST(weight AS DOUBLE),
       |     CASE WHEN (SELECT cnt FROM stats) = 101
       |          THEN 4503599627370496.0 / CAST((SELECT mx FROM stats) AS DOUBLE)
       |          ELSE 0.0 END), 6) AS w_est
       |  FROM ranked WHERE (SELECT cnt FROM stats) <= 100 OR rn <= 100),
       | csc AS (SELECT doc_id, weight AS score FROM samp),
       | ch1 AS (SELECT score, count(*) AS cnt FROM csc GROUP BY 1),
       | cr AS (SELECT score,
       |   coalesce(sum(cnt) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnt_below,
       |   sum(cnt) OVER () AS n FROM ch1),
       | cpr AS (SELECT score, CASE WHEN n = 1 THEN 0.0
       |        ELSE CAST(cnt_below AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS pr FROM cr),
       | cj AS (SELECT csc.doc_id,
       |   CAST(least(3, floor(cpr.pr * 4)) AS BIGINT) AS phase,
       |   CAST((((csc.doc_id % 2147483648) * 2654435761) % 4294967296) % 4 AS BIGINT) AS curr_shard,
       |   (((csc.doc_id % 2147483648) * 2654435761) % 4294967296) AS ord
       |  FROM csc JOIN cpr USING (score)),
       | curr AS (SELECT doc_id, phase, curr_shard,
       |   CAST(row_number() OVER (PARTITION BY phase, curr_shard ORDER BY ord, doc_id) AS BIGINT) AS seq
       |  FROM cj),
       | chosen AS (SELECT m.doc_id, m.text FROM mixed m JOIN samp USING (doc_id)),
       | pc AS (SELECT doc_id, text, CAST(ceil(length(text) / 128.0) AS BIGINT) AS n_chunks FROM chosen),
       | pu AS (SELECT doc_id, text, n_chunks, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx FROM pc),
       | pch AS (SELECT doc_id, chunk_idx, substring(text, CAST(chunk_idx * 128 + 1 AS INT), 128) AS chunk FROM pu),
       | cw AS (SELECT doc_id, chunk_idx, lower(t.tok) AS word
       |        FROM (SELECT doc_id, chunk_idx, unnest(string_split_regex(chunk, '[ \\t\\n\\f\\r]+')) AS tok FROM pch) t
       |        WHERE length(t.tok) > 0),
       | wc AS (SELECT word, count(*) AS cnt FROM cw GROUP BY 1),
       |$BpeApplyCte,
       | cb AS (SELECT cw.doc_id, cw.chunk_idx, CAST(sum(len(f2.toks)) AS BIGINT) AS bpe_n
       |        FROM cw JOIN fin f2 USING (word) GROUP BY 1, 2),
       | tok AS (SELECT pch.doc_id, pch.chunk_idx, pch.doc_id % 8 AS shard,
       |        coalesce(cb.bpe_n, 0) AS n_tokens
       |        FROM pch LEFT JOIN cb USING (doc_id, chunk_idx)),
       | off AS (SELECT doc_id, chunk_idx, shard, n_tokens,
       |   CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id, chunk_idx
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
       |   FROM tok)
       |SELECT o.doc_id, o.chunk_idx, o.n_tokens, o.shard,
       | CAST(floor(o.start_off / 64) AS BIGINT) AS pack_id, o.start_off,
       | curr.phase, curr.curr_shard, curr.seq, samp.w_est
       |FROM off o JOIN curr USING (doc_id) JOIN samp USING (doc_id)
       |ORDER BY o.doc_id, o.chunk_idx""".stripMargin

  /** The warc-to-training builds' tail: the curriculum over the priority
    * sample `samp`, then the `chosen` docs cut into 128-char chunks,
    * packed under BPE budgets and joined to their phase, shard and
    * weight estimate. */
  private def trainingManifest(samp: DataFrame, chosen: DataFrame): DataFrame = {
    val shards = Corpus.curriculumShards(
      samp.select(col("doc_id"), col("weight").as("score")), phases = 4, nShards = 4,
      sizeHint = Some(101L)) // priority sample ≤ k+1 rows by contract
    bpePackedChunks(Corpus.chunk(chosen.select(col("doc_id"), col("text")), size = 128))
      .join(broadcast(shards.select(col("doc_id"), col("phase"),
        col("shard").as("curr_shard"), col("seq"))), "doc_id")
      .join(broadcast(samp.select(col("doc_id"), col("w_est"))), "doc_id")
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"), col("shard"),
        col("pack_id"), col("start_off"), col("phase"), col("curr_shard"),
        col("seq"), col("w_est"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** The robots.txt fixture for host key `k`: a badbot-only block,
    * a /private/ disallow for everyone, and per k % 4 a /doc/
    * disallow, a /doc/1 disallow with a longer /doc/12 allow, a /doc/
    * allow, or nothing. */
  private def robotsFixture: Column =
    concat(
    lit("# graft robots fixture\nUser-agent: badbot\nDisallow: /\n\n" +
      "User-agent: *\nDisallow: /private/\n"),
    when(col("k") % 4 === 0, lit("Disallow: /doc/\n"))
      .when(col("k") % 4 === 1, lit("Disallow: /doc/1\nAllow: /doc/12\n"))
      .when(col("k") % 4 === 2, lit("Allow: /doc/\n"))
      .otherwise(lit("")))

  /** The Gopher gate's kept docs of `deduped` (doc_id, text), with
    * their lang from `docs`. */
  private def gopherGated(deduped: DataFrame, docs: DataFrame): DataFrame =
    TextQuality.gopherQualityGate(deduped)
      .where(col("keep"))
      .join(deduped, Seq("doc_id"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("text"))

  /** The PNG media fixture plus a nearest-neighbor 32x24 rescale of
    * every 4th image under media_id + 1000000 (media_id, content). */
  private def pngWithResized(s: SparkSession, d: String): DataFrame = {
    val orig = Multimodal.pngMediaFromDocs(t(s, d).documents)
      .select(col("media_id"), col("content"))
    val variants = Multimodal
      .resizeImage(orig.where(col("media_id") % 4 === 0), 32, 24)
      .select((col("media_id") + 1000000L).as("media_id"), col("content"))
    orig.unionByName(variants)
  }
}
