package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import graft.plans.Lineage.TruncateOps
import graft.QuerySpec.{Q, RowsOnly}
import graft.SparkEntry._
import graft.queries.Twins._

/** LLM-pipeline operators (SURVEY.md §2.11), part 1: exact and near-duplicate detection,
  * retrieval and ranking, fuzzy name matching, entity resolution and
  * MinHash/SimHash. */
object DedupSearchQueries {
  val specs: Seq[QuerySpec] = Seq(
    Q("dedup_exact", (s, d) => Dedup.exactGroups(t(s, d).documents).orderBy("keep_id"))(
      "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY text ORDER BY keep_id"),
    Q("dedup_hash", (s, d) => Dedup.hashGroups(t(s, d).documents).orderBy("h"))(
      """SELECT sha256(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY sha256(text) ORDER BY h""".stripMargin),
    // ingest-time incremental dedup: the even-id half of the corpus
    // plays the persisted digest store; the incoming batch dedups
    // within itself then anti-joins the store on the 32-byte digest
    Q("incremental_dedup", (s, d) => {
      val docs = t(s, d).documents
      val store = docs.where(col("doc_id") % 2 === 0)
        .select(sha2(col("text"), 256).as("h"))
      Dedup.incrementalDigestDedup(docs, store).orderBy("h")
    })(
      // batch-internal dedup (min id per digest) then anti-join against
      // the persisted store — the relational spelling of ingest dedup
      """WITH store AS (SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id % 2 = 0),
        | batch AS (SELECT sha256(text) AS h, min(doc_id) AS doc_id FROM documents GROUP BY 1)
        |SELECT b.h, b.doc_id FROM batch b LEFT JOIN store s ON b.h = s.h
        |WHERE s.h IS NULL ORDER BY b.h""".stripMargin),
    Q("near_dup_jaccard", (s, d) => Dedup.nearestByJaccard(t(s, d).documents).orderBy("doc_id"))(
      // stop-shingle cap mirrored from Dedup.DefaultMaxDf: shingles with
      // document frequency > 10 are dropped from intersections AND set
      // sizes on both sides (a no-op at sf0.01, where max df = 7)
      s"""$RareShingleCtes
        | j AS (SELECT doc_a, doc_b, inter / (ca.n_sh + cb.n_sh - inter) AS jaccard
        |        FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b),
        | sym AS (SELECT doc_a AS doc_id, doc_b AS other_id, jaccard FROM j
        |          UNION ALL SELECT doc_b AS doc_id, doc_a AS other_id, jaccard FROM j),
        | r AS (SELECT doc_id, other_id, jaccard,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, other_id) AS rn FROM sym)
        |SELECT doc_id, other_id, jaccard FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    // MOSS-style winnowing: rightmost-min-per-window fingerprint
    // selection at density 2/(w+1) with the >= w+k-1-token detection
    // guarantee; selection is one per-doc window over a packed BIGINT
    Q("winnowing_fingerprints", (s, d) =>
      Dedup.winnowingFingerprints(t(s, d).documents).orderBy("doc_id", "fp_pos"))(
      // winnowing selection replayed verbatim: the packed-BIGINT window
      // min IS the paper's "smallest hash, rightmost on ties" rule; the
      // 40-bit md5-prefix hash comes from the same md5 string on both
      // engines (HexInt40 expands DuckDB's missing conv(hex))
      s"""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS l FROM documents),
         | g AS (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i FROM toks WHERE len(l) >= 6),
         | gr AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS gpos, md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]) AS m FROM g),
         | pk AS (SELECT doc_id, gpos, ${HexInt40("m")} * 1048576 + (1048575 - gpos) AS pk FROM gr),
         | sel AS (SELECT doc_id, gpos, min(pk) OVER (PARTITION BY doc_id ORDER BY gpos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel FROM pk)
         |SELECT DISTINCT doc_id, sel // 1048576 AS fp, 1048575 - (sel % 1048576) AS fp_pos
         |FROM sel WHERE gpos >= 3 ORDER BY doc_id, fp_pos""".stripMargin),
    // the MOSS match step: pairs sharing >= 2 df-capped fingerprints
    Q("winnowing_near_dups", (s, d) =>
      Dedup.winnowingNearDups(t(s, d).documents).orderBy("doc_a", "doc_b"))(
      // the match step off the same selection chain: distinct (doc, fp),
      // df-capped at 50 (the stop-shingle posture), pairs sharing >= 2
      s"""$WinnowFpCtes
         | rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 50),
         | c AS (SELECT f.doc_id, f.fp FROM f JOIN rare USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |FROM c a JOIN c b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY 1, 2""".stripMargin),
    // the dedup-cut tuning table: how many pairs (and docs) a Jaccard
    // threshold would merge, per candidate threshold — the artifact a
    // curation team reads before picking THE cut; one pair relation,
    // five broadcast threshold rows
    Q("dedup_threshold_sweep", (s, d) => {
      val ths = Seq(0.02, 0.05, 0.1, 0.5, 0.9)
      val pairs = Dedup.jaccardPairs(t(s, d).documents)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
      val filt = pairs
        .withColumn("threshold", explode(array(ths.map(lit): _*)))
        .where(col("jaccard") >= col("threshold"))
        .truncateLineage // feeds both aggregates
      val np = filt.groupBy(col("threshold")).agg(count(lit(1)).as("n_pairs"))
      val ndoc = filt
        .select(col("threshold"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
        .groupBy(col("threshold")).agg(countDistinct(col("doc")).as("n_docs_affected"))
      val base = t(s, d).documents.limit(1)
        .select(explode(array(ths.map(lit): _*)).as("threshold"))
      base.join(np, Seq("threshold"), "left").join(ndoc, Seq("threshold"), "left")
        .select(col("threshold"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs_affected"), lit(0L)).as("n_docs_affected"))
        .orderBy("threshold")
    })(
      // the jaccard pair chain joined to a threshold relation; the
      // quotient is the same long/long double division on both sides
      s"""$RareShingleCtes
        | j AS (SELECT doc_a, doc_b, inter / (ca.n_sh + cb.n_sh - inter) AS jaccard
        |        FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b),
        | th AS (SELECT unnest([0.02, 0.05, 0.1, 0.5, 0.9]) AS threshold),
        | f AS (SELECT th.threshold, j.doc_a, j.doc_b FROM j JOIN th ON j.jaccard >= th.threshold),
        | np AS (SELECT threshold, count(*) AS n_pairs FROM f GROUP BY 1),
        | nd AS (SELECT threshold, count(DISTINCT doc) AS n_docs_affected
        |        FROM (SELECT threshold, unnest([doc_a, doc_b]) AS doc FROM f) GROUP BY 1)
        |SELECT th.threshold, coalesce(np.n_pairs, 0) AS n_pairs,
        | CAST(coalesce(nd.n_docs_affected, 0) AS BIGINT) AS n_docs_affected
        |FROM th LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)
        |ORDER BY th.threshold""".stripMargin),
    // the operational check on fingerprint index size: winnowing
    // selects ~2/(w+1) of grams; a density far off that band means a
    // broken window or a degenerate hash
    Q("winnowing_density_audit", (s, d) => {
      val docs = t(s, d).documents
      val grams = docs
        .select(size(filter(split(col("text"), TextOps.TokenSepRe), x => length(x) > 0))
          .cast("long").as("n_toks"))
        .where(col("n_toks") >= 6)
        .agg(sum(col("n_toks") - 2 - 3).as("n_windows"),
          sum(col("n_toks") - 2).as("n_grams"))
      // n_windows = full windows (grams - w + 1); density vs grams
      val sel = Dedup.winnowingFingerprints(docs)
        .agg(count(lit(1)).as("n_selected"))
      grams.crossJoin(broadcast(sel))
        .select(col("n_grams"), col("n_windows"), col("n_selected"),
          floor(col("n_selected") * lit(1000000L) / col("n_grams")).as("density_ppm"),
          (floor(col("n_selected") * lit(1000000L) / col("n_grams"))
            .between(200000L, 600000L)).as("near_theory")) // 2/(w+1) = 0.4
    })(
      // grams/windows by arithmetic off token counts, selections by the
      // winnowing chain; density floored ppm
      s"""WITH tc AS (SELECT CAST(len(list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0)) AS BIGINT) AS n_toks FROM documents),
         | gsum AS (SELECT CAST(sum(n_toks - 2 - 3) AS BIGINT) AS n_windows, CAST(sum(n_toks - 2) AS BIGINT) AS n_grams FROM tc WHERE n_toks >= 6),
         | toks AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS l FROM documents),
         | g AS (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i FROM toks WHERE len(l) >= 6),
         | gr AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS gpos, md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]) AS m FROM g),
         | pk AS (SELECT doc_id, gpos, ${HexInt40("m")} * 1048576 + (1048575 - gpos) AS pk FROM gr),
         | sel AS (SELECT doc_id, gpos, min(pk) OVER (PARTITION BY doc_id ORDER BY gpos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel FROM pk),
         | ns AS (SELECT CAST(count(*) AS BIGINT) AS n_selected FROM
         |   (SELECT DISTINCT doc_id, sel FROM sel WHERE gpos >= 3))
         |SELECT g2.n_grams, g2.n_windows, ns.n_selected,
         | CAST(floor(ns.n_selected * 1000000 / g2.n_grams) AS BIGINT) AS density_ppm,
         | floor(ns.n_selected * 1000000 / g2.n_grams) BETWEEN 200000 AND 600000 AS near_theory
         |FROM gsum g2 CROSS JOIN ns""".stripMargin),
    // continuous MOSS: winnowing copy detection against the growing
    // ADMITTED-fingerprint store; a re-posted copy in a later drop is
    // caught by the detection guarantee, batch mates by the lower-id
    // rule — the twin unrolls the 4 batch admissions
    Q("streaming_winnowing_ingest", (s, d) => {
      val (ss, stream) = docStream(s, d)
      val fpDir = java.nio.file.Files.createTempDirectory("graft-winnow-store").toString
      val out = java.nio.file.Files.createTempDirectory("graft-winnow-out").toString
      val admitted = graft.streaming.IngestPipeline
        .runWinnowIngest(ss, stream, fpDir, out)
        .withColumn("ok", lit(true))
      t(ss, d).documents.select(col("doc_id"))
        .join(admitted, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("ok"), lit(false)).as("admitted"))
        .orderBy("doc_id")
    }) {
      // the 4 batch admissions unrolled: batch = doc_id // per (the
      // stageDocStream range layout), per-batch df cap, pairwise shared
      // counts once, then a_b = batch b minus (mate-rejected ∪ rejected
      // against the union of EARLIER admitted sets) — the recursive
      // store semantics as plain CTEs
      def adm(b: Int, priors: Seq[String]) = {
        val vsStore =
          if (priors.isEmpty) ""
          else priors.map(p =>
            s"AND doc_id NOT IN (SELECT c.d FROM cand c JOIN $p p ON c.e = p.doc_id WHERE c.db = $b)")
            .mkString(" ", " ", "")
        s""" a$b AS (SELECT doc_id FROM dd WHERE b = $b
           |   AND doc_id NOT IN (SELECT d FROM cand WHERE eb = db AND db = $b)$vsStore)""".stripMargin
      }
      s"""$WinnowFpCtes
         | pc AS (SELECT CAST(max(doc_id) AS BIGINT) // 4 + 1 AS per FROM documents),
         | fb AS (SELECT doc_id, fp, doc_id // (SELECT per FROM pc) AS b FROM f),
         | rare AS (SELECT b, fp FROM fb GROUP BY b, fp HAVING count(*) <= 50),
         | c0 AS (SELECT fb.doc_id, fb.fp, fb.b FROM fb JOIN rare USING (b, fp)),
         | cand AS (SELECT a.doc_id AS e, d.doc_id AS d, a.b AS eb, d.b AS db
         |          FROM c0 a JOIN c0 d ON a.fp = d.fp AND a.doc_id < d.doc_id
         |          GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2),
         | dd AS (SELECT doc_id, doc_id // (SELECT per FROM pc) AS b FROM documents),
         |${adm(0, Nil)},
         |${adm(1, Seq("a0"))},
         |${adm(2, Seq("a0", "a1"))},
         |${adm(3, Seq("a0", "a1", "a2"))},
         | adm AS (SELECT doc_id FROM a0 UNION ALL SELECT doc_id FROM a1
         |         UNION ALL SELECT doc_id FROM a2 UNION ALL SELECT doc_id FROM a3)
         |SELECT d.doc_id, (adm.doc_id IS NOT NULL) AS admitted
         |FROM documents d LEFT JOIN adm ON d.doc_id = adm.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    // asymmetric containment |S(A)∩S(B)|/|S(A)| — the partial-dup
    // (quote-inside-page) detector Jaccard structurally misses; same
    // df-capped candidate bound as jaccardPairs, directed output,
    // containment rounded before the cut
    Q("containment_dups", (s, d) =>
      Dedup.containmentPairs(t(s, d).documents, minContainment = 0.5)
        .orderBy("doc_id", "other_id"))(
      // same shingle/df-cap CTEs as near_dup_jaccard, then the DIRECTED
      // containment projection: inter over the OWNING side's set size,
      // rounded 6 dp before the >= cut
      s"""$RareShingleCtes
        | dir AS (SELECT i.doc_a AS doc_id, i.doc_b AS other_id, i.inter, ca.n_sh AS n_own
        |          FROM inter i JOIN cnt ca ON ca.doc_id = i.doc_a
        |          UNION ALL
        |          SELECT i.doc_b AS doc_id, i.doc_a AS other_id, i.inter, cb.n_sh AS n_own
        |          FROM inter i JOIN cnt cb ON cb.doc_id = i.doc_b),
        | c AS (SELECT doc_id, other_id, inter, n_own,
        |        round(CAST(inter AS DOUBLE) / CAST(n_own AS DOUBLE), 6) AS containment FROM dir)
        |SELECT doc_id, other_id, inter, n_own, containment
        |FROM c WHERE containment >= CAST(0.5 AS DOUBLE) ORDER BY doc_id, other_id""".stripMargin),
    // the inverse of dedup: share of a doc's shingles that exist
    // nowhere else — template-assembled docs score ≈ 0 even when no
    // single pairwise duplicate exists
    Q("novelty_score", (s, d) =>
      Dedup.noveltyScores(t(s, d).documents).orderBy("doc_id"))(
      // distinct shingles (the near_dup CTE prefix), df = 1 share
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> length(x) > 0) AS l FROM documents),
        | pos AS (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i FROM toks WHERE len(l) >= 3),
        | sh0 AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle FROM pos),
        | dfq AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY 1),
        | a AS (SELECT doc_id, count(*) AS n_shingles,
        |       CAST(sum(CASE WHEN dfq.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
        |       FROM sh0 JOIN dfq USING (shingle) GROUP BY 1)
        |SELECT doc_id, n_shingles, n_unique,
        | round(CAST(n_unique AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6) AS novelty
        |FROM a ORDER BY doc_id""".stripMargin),
    // substring-level duplication (Lee et al. 2022 shape): strided
    // 32-char window grid, grouped on the span, kept where >= 2 docs
    Q("dup_spans", (s, d) =>
      Dedup.duplicatedSpans(t(s, d).documents, k = 32, stride = 8, minDocs = 2).orderBy("span"))(
      // strided 32-char window grid, grouped on the span itself
      """WITH sp AS (
        |  SELECT doc_id, substring(text, CAST(i AS INTEGER), 32) AS span
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 31, 8)) AS i
        |        FROM documents WHERE length(text) >= 32) t)
        |SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
        |FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2 ORDER BY span""".stripMargin),
    // duplicated spans coalesced into maximal per-document regions
    // (gaps-and-islands over the flagged window grid) — the byte
    // ranges a cleaning pass actually cuts
    Q("dup_regions", (s, d) =>
      Dedup.duplicatedRegions(t(s, d).documents, k = 32, stride = 8, minDocs = 2)
        .orderBy("doc_id", "region_start"))(
      """WITH sp AS (
        |  SELECT doc_id, i AS pos, substring(text, CAST(i AS INTEGER), 32) AS span
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 31, 8)) AS i
        |        FROM documents WHERE length(text) >= 32) t),
        | flagged AS (SELECT span FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
        | hits AS (SELECT doc_id, pos, pos + 31 AS e FROM sp JOIN flagged USING (span)),
        | marked AS (SELECT doc_id, pos, e,
        |    CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY pos
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
        |         THEN 1 ELSE 0 END AS ni
        |    FROM hits),
        | isl AS (SELECT doc_id, pos, e,
        |    sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM marked)
        |SELECT doc_id, min(pos) AS region_start, max(e) AS region_end,
        |       max(e) - min(pos) + 1 AS region_len
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, region_start""".stripMargin),
    // inverted index: the canonical MapReduce workload one past
    // wordcount — term -> (df, cf, sorted postings). The df cap BINDS
    // at sf0.01 (drops the ~15 hottest of 31 terms): hot-term posting
    // state is bounded by construction, and the twin mirrors the cap
    Q("inverted_index", (s, d) =>
      Retrieval.invertedIndex(t(s, d).documents, maxDf = RetrievalMaxDf).orderBy("word"))(
      // HAVING df <= cap mirrors the enforced stop-term drop on the
      // Spark side (Retrieval.cappedTermFreqs)
      s"""$WDoc, tfq AS (SELECT word, doc_id, count(*) AS tf FROM w GROUP BY 1, 2)
         |SELECT word, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
         | string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
         |FROM tfq GROUP BY word HAVING count(*) <= $RetrievalMaxDf ORDER BY word""".stripMargin),
    // BM25 ranked retrieval over the index's statistics (fixed-order
    // per-term fold + round(4) for cross-engine determinism); query
    // terms above the df cap are stop terms and contribute 0
    Q("bm25_topk", (s, d) =>
      Retrieval.bm25TopK(t(s, d).documents, Bm25Terms, k = 20, maxDf = RetrievalMaxDf))(
      // BM25 with the Spark side's exact literals and association:
      // ln(idf+1) * (tf*(k1+1)) / (tf + k1*((1-b) + b*dl/avgdl)), summed
      // over the terms in fixed order, rounded to 4 decimals after the
      // sum; dfq's HAVING mirrors the enforced stop-term cap (a query
      // term above it contributes 0 on both engines)
      bm25TwinSql),
    // positional-index phrase query: exact consecutive-token match
    // with occurrence counts — what bag-of-words BM25 cannot answer
    Q("phrase_search", (s, d) =>
      Retrieval.phraseSearch(t(s, d).documents, PhraseTerms).orderBy("doc_id"))(phraseTwinSql),
    // proximity (slop) query between phrase and bag-of-words: every
    // all-terms doc with its EXACT minimal covering token span and
    // the ≤window verdict — the positional index answering "near",
    // not just "adjacent" or "anywhere"
    Q("proximity_search", (s, d) =>
      Retrieval.proximitySearch(t(s, d).documents, PhraseTerms, window = 12)
        .orderBy("doc_id")) {
      // same cleaned positional relation as the phrase twin, then the
      // m-way per-doc occurrence join and exact min-span aggregate
      val ts = PhraseTerms
      val inList = ts.distinct.map(t => s"'$t'").mkString(", ")
      val eCtes = ts.zipWithIndex.map { case (t, i) =>
        s" e$i AS (SELECT doc_id, pos AS p$i FROM px WHERE word = '$t')"
      }.mkString(",\n")
      val joins = (1 until ts.length).map(i => s"JOIN e$i USING (doc_id)").mkString(" ")
      val plist = ts.indices.map(i => s"p$i").mkString(", ")
      s"""WITH toksc AS (SELECT doc_id,
         |   list_filter(list_transform(string_split_regex(text, '[ \\t\\n\\f\\r]+'),
         |     x -> lower(regexp_replace(x, '$P', '', 'g'))), x -> length(x) > 0) AS l
         |  FROM documents),
         | px AS (SELECT doc_id, l[i] AS word, i AS pos
         |   FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM toksc) z
         |   WHERE l[i] IN ($inList)),
         |$eCtes,
         | j AS (SELECT e0.doc_id, greatest($plist) - least($plist) + 1 AS span
         |   FROM e0 $joins)
         |SELECT doc_id, CAST(min(span) AS BIGINT) AS min_window,
         | count(*) AS n_combos, min(span) <= 12 AS within
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // model-free document embeddings: feature-hashed TF-IDF in sparse
    // relational form, L2-normalized — similarity retrieval with no
    // embedding column required
    Q("tfidf_embed", (s, d) =>
      Retrieval.tfidfHashedVectors(t(s, d).documents, dim = 64)
        .orderBy("doc_id", "dim_idx"))(
      s"""$TfidfVecCtes
         |SELECT doc_id, dim_idx, v FROM vec ORDER BY doc_id, dim_idx""".stripMargin),
    // cosine top-k against doc 0's hashed vector: broadcast query dims,
    // map-side partial dot products, TakeOrderedAndProject
    Q("tfidf_query_topk", (s, d) =>
      Retrieval.tfidfQueryTopK(t(s, d).documents, queryId = 0L, k = 20, dim = 64))(tfidfTopkTwin),
    // diversified top-k (MMR): greedy λ·rel − (1−λ)·maxSim selection —
    // coverage instead of k near-copies of the best hit; k bounded
    // driver rounds, each one distributed argmax
    Q("mmr_topk", (s, d) =>
      Retrieval.mmrTopK(t(s, d).documents, queryId = 0L, k = 5).orderBy("rank"))(mmrTwinSql),
    // reciprocal-rank fusion of the lexical (BM25) and hashed-TF-IDF
    // rankings — Σ 1/(60+rank), the standard-constant RRF; hits found
    // by only one ranker keep their single term via the outer join
    Q("rrf_fusion", (s, d) => {
      val docs = t(s, d).documents
      val ra = bm25Ranks(docs, "r_bm")
      val rb = tfidfRanks(docs)
      ra.join(rb, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("r_bm"), col("r_tf"),
          round(coalesce(lit(1.0) / (lit(60.0) + col("r_bm").cast("double")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60.0) + col("r_tf").cast("double")), lit(0.0)), 9)
            .as("rrf"))
        .orderBy(desc("rrf"), asc("doc_id"))
        .limit(20)
    })(
      // rank fusion over the two twins verbatim as subqueries: RRF =
      // Σ 1/(60+rank), each term one division, missing rank → 0
      s"""$RankerRanksCtes
         | f AS (SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id, ra.r_bm, rb.r_tf
         |        FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id)
         |SELECT doc_id, r_bm, r_tf,
         | round(coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(r_bm AS DOUBLE)), 0.0)
         |   + coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(r_tf AS DOUBLE)), 0.0), 9) AS rrf
         |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin),
    // ranking EVALUATION against an exact relevance set (docs whose
    // cleaned vocabulary contains every query term): P@10, recall@20,
    // MRR — the numbers that decide whether BM25 constants or the
    // df cap need touching, all exact integers + single divisions
    Q("retrieval_eval", (s, d) => {
      val docs = t(s, d).documents
      val ranked = bm25Ranks(docs, "r")
      val rel = bm25RelevanceSet(docs)
      val nRel = rel.agg(count(lit(1)).as("n_rel"))
      ranked.join(rel, "doc_id")
        .agg(count(lit(1)).as("rel_in_top20"),
          coalesce(sum(when(col("r") <= 10, lit(1L)).otherwise(lit(0L))), lit(0L))
            .as("rel_in_top10"),
          min(col("r")).as("fr"))
        .crossJoin(broadcast(nRel))
        .select(col("n_rel"), col("rel_in_top10"), col("rel_in_top20"),
          round(col("rel_in_top10").cast("double") / lit(10.0), 6).as("p_at_10"),
          round(col("rel_in_top20").cast("double") / col("n_rel").cast("double"), 6)
            .as("recall_at_20"),
          round(lit(1.0) / col("fr").cast("double"), 6).as("mrr"))
    })(
      s"""$WDoc,
         | rk AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r
         |        FROM ($bm25TwinSql) z1),
         | $bm25RelCte,
         | n AS (SELECT count(*) AS n_rel FROM rel),
         | h AS (SELECT r FROM rk JOIN rel USING (doc_id)),
         | a AS (SELECT count(*) AS rel_in_top20,
         |        coalesce(sum(CASE WHEN r <= 10 THEN 1 ELSE 0 END), 0) AS rel_in_top10,
         |        min(r) AS fr FROM h)
         |SELECT CAST(n.n_rel AS BIGINT) AS n_rel,
         | CAST(a.rel_in_top10 AS BIGINT) AS rel_in_top10,
         | CAST(a.rel_in_top20 AS BIGINT) AS rel_in_top20,
         | round(CAST(a.rel_in_top10 AS DOUBLE) / 10.0, 6) AS p_at_10,
         | round(CAST(a.rel_in_top20 AS DOUBLE) / CAST(n.n_rel AS DOUBLE), 6) AS recall_at_20,
         | round(CAST(1.0 AS DOUBLE) / CAST(a.fr AS DOUBLE), 6) AS mrr
         |FROM a CROSS JOIN n""".stripMargin),
    // hard-negative mining for contrastive embedding training (the
    // DPR/BM25-negatives recipe): the top-BM25 docs that rank high
    // yet MISS at least one query term — lexically confusable, not
    // relevant — as (doc, score, rank) triples ready to pair against
    // the positives retrieval_eval scores. Rank-anti-join over the
    // k-bounded ranked relation; positives = the same all-terms
    // relevance set
    Q("hard_negative_mining", (s, d) => {
      val docs = t(s, d).documents
      val ranked = Retrieval.bm25TopK(docs, Bm25Terms, k = 20, maxDf = RetrievalMaxDf)
        .withColumn("neg_rank",
          row_number().over(Window.orderBy(desc("score"), asc("doc_id"))).cast("long"))
      val rel = bm25RelevanceSet(docs)
      ranked.join(rel, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("score"), col("neg_rank"))
        .orderBy("neg_rank")
    })(
      // relevance = the conjunctive exact-match set off the shared WDoc
      // tokenization; terms and count interpolated from the ONE Scala
      // constant the Spark ranker queries use
      // the negatives twin: bm25 ranking as a subquery, the SAME
      // all-terms relevance CTE as retrieval_eval, NOT IN instead of
      // the hit join
      s"""$WDoc,
         | rk AS (SELECT doc_id, score,
         |        CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS neg_rank
         |        FROM ($bm25TwinSql) z1),
         | $bm25RelCte
         |SELECT doc_id, score, neg_rank FROM rk
         |WHERE doc_id NOT IN (SELECT doc_id FROM rel)
         |ORDER BY neg_rank""".stripMargin),
    // graded companion to retrieval_eval: relevance GRADE = how many
    // of the query's terms the doc's cleaned vocabulary holds (1..3),
    // gain = 2^grade − 1, nDCG@10 of the BM25 ranking against the
    // ideal gain ordering. Discounts 1/log2(r+1) are precomputed ONCE
    // in Scala, rounded(12), and interpolated into BOTH engines (the
    // decayed_counts device), so no cross-engine log ever runs;
    // gain·w terms are DECIMAL-summed, and the final nDCG is one
    // division of two such sums
    Q("ndcg_eval", (s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 12)
      val docs = t(s, d).documents
      val ranked = bm25Ranks(docs, "r")
      val graded = docs.select(col("doc_id"),
          TextOps.cleanTokens(col("text")).as("ws"))
        .select(col("doc_id"),
          Bm25Terms.map(term => when(array_contains(col("ws"), term), lit(1L))
            .otherwise(lit(0L))).reduce(_ + _).as("grade"))
        .where(col("grade") > 0)
        .select(col("doc_id"),
          when(col("grade") === 1, lit(1L)).when(col("grade") === 2, lit(3L))
            .otherwise(lit(7L)).as("gain"))
        .truncateLineage // consumed by the DCG join AND the ideal top-10
      val wts = broadcast(s.createDataFrame(NdcgDiscounts).toDF("r", "wgt"))
      val dcg = ranked.where(col("r") <= 10).join(graded, "doc_id").join(wts, "r")
        .agg(coalesce(sum(round(col("gain") * col("wgt"), 12).cast(dec)),
            lit(0).cast(dec)).as("dcg_s"),
          count(lit(1)).as("graded_in_top10"))
      val ideal = graded.orderBy(desc("gain"), asc("doc_id")).limit(10)
        .withColumn("r", row_number().over(Window.orderBy(desc("gain"), asc("doc_id"))).cast("long"))
        .join(wts, "r")
        .agg(sum(round(col("gain") * col("wgt"), 12).cast(dec)).as("idcg_s"))
      val nG = graded.agg(count(lit(1)).as("n_graded"))
      dcg.crossJoin(broadcast(ideal)).crossJoin(broadcast(nG))
        .select(col("n_graded"), col("graded_in_top10"),
          round(col("dcg_s").cast("double"), 6).as("dcg_at_10"),
          round(col("idcg_s").cast("double"), 6).as("idcg_at_10"),
          round(col("dcg_s").cast("double") / col("idcg_s").cast("double"), 6).as("ndcg_at_10"))
    }) {
      // graded twin: same WDoc vocabulary, same BM25 twin ranking, and
      // the SAME Scala-rounded discount constants in a VALUES table —
      // gain·w rounded(12) DECIMAL-summed on both engines
      val wtVals = NdcgDiscounts.map { case (r, w) =>
        val ws = if (w.toString.toLowerCase.contains("e")) w.toString else w.toString + "e0"
        s"($r, $ws)"
      }.mkString(", ")
      s"""$WDoc,
         | rk AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r
         |        FROM ($bm25TwinSql) z1),
         | graded AS (SELECT doc_id, count(DISTINCT word) AS grade FROM w
         |            WHERE word IN (${Bm25Terms.map(x => s"'$x'").mkString(", ")})
         |            GROUP BY doc_id),
         | gg AS (SELECT doc_id, CASE WHEN grade = 1 THEN 1 WHEN grade = 2 THEN 3 ELSE 7 END AS gain FROM graded),
         | wt(r, wgt) AS (VALUES $wtVals),
         | dcg AS (SELECT coalesce(sum(CAST(round(gg.gain * wt.wgt, 12) AS DECIMAL(38,12))),
         |                         CAST(0 AS DECIMAL(38,12))) AS dcg_s,
         |         count(*) AS graded_in_top10
         |        FROM rk JOIN gg USING (doc_id) JOIN wt ON wt.r = rk.r WHERE rk.r <= 10),
         | ideal AS (SELECT gain, CAST(row_number() OVER (ORDER BY gain DESC, doc_id) AS BIGINT) AS ir FROM gg),
         | idcg AS (SELECT sum(CAST(round(ideal.gain * wt.wgt, 12) AS DECIMAL(38,12))) AS idcg_s
         |          FROM ideal JOIN wt ON wt.r = ideal.ir WHERE ideal.ir <= 10),
         | n AS (SELECT count(*) AS n_graded FROM gg)
         |SELECT CAST(n.n_graded AS BIGINT) AS n_graded,
         | CAST(dcg.graded_in_top10 AS BIGINT) AS graded_in_top10,
         | round(CAST(dcg.dcg_s AS DOUBLE), 6) AS dcg_at_10,
         | round(CAST(idcg.idcg_s AS DOUBLE), 6) AS idcg_at_10,
         | round(CAST(dcg.dcg_s AS DOUBLE) / CAST(idcg.idcg_s AS DOUBLE), 6) AS ndcg_at_10
         |FROM dcg CROSS JOIN idcg CROSS JOIN n""".stripMargin
    },
    // before fusing two rankers, MEASURE their agreement: top-k set
    // overlap (Jaccard) and Spearman's footrule Σ|r_a − r_b| on the
    // intersection — all exact integers plus one rounded division.
    // High overlap + low footrule means RRF adds nothing; disjoint
    // lists mean one ranker is broken or they see different signals
    Q("ranker_agreement", (s, d) => {
      val docs = t(s, d).documents
      val ra = bm25Ranks(docs, "r_bm")
      val rb = tfidfRanks(docs)
      val na = ra.agg(count(lit(1)).as("na"))
      val nb = rb.agg(count(lit(1)).as("nb"))
      ra.join(rb, "doc_id")
        .agg(count(lit(1)).as("n_overlap"),
          coalesce(sum(abs(col("r_bm") - col("r_tf"))), lit(0L)).as("footrule"))
        .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
        .select(col("na"), col("nb"), col("n_overlap"),
          round(col("n_overlap").cast("double")
            / (col("na") + col("nb") - col("n_overlap")).cast("double"), 6).as("jaccard"),
          col("footrule"))
    })(
      // both ranker twins embedded verbatim (the rrf_fusion device), so
      // agreement numbers can never drift from the rankings they measure
      s"""$RankerRanksCtes
         | j AS (SELECT ra.doc_id, r_bm, r_tf FROM ra JOIN rb USING (doc_id)),
         | m AS (SELECT (SELECT count(*) FROM ra) AS na, (SELECT count(*) FROM rb) AS nb,
         |        count(*) AS n_overlap, coalesce(sum(abs(r_bm - r_tf)), 0) AS footrule FROM j)
         |SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
         | CAST(n_overlap AS BIGINT) AS n_overlap,
         | round(CAST(n_overlap AS DOUBLE) / CAST(na + nb - n_overlap AS DOUBLE), 6) AS jaccard,
         | CAST(footrule AS BIGINT) AS footrule
         |FROM m""".stripMargin),
    // the build-once/query-many retrieval lifecycle (the ANN side's
    // ivfPqWrite/Read posture): persist the four index relations,
    // reload, score BM25 from the stored postings — same oracle as the
    // recompute path, so hash-green == lifecycle-parity proof
    Q("bm25_from_index", (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft-invidx").toString
      Retrieval.invIndexWrite(
        Retrieval.invIndexBuild(t(s, d).documents, maxDf = RetrievalMaxDf), dir)
      Retrieval.bm25FromIndex(Retrieval.invIndexRead(s, dir), Bm25Terms, k = 20)
    })(
      // the persisted-index path answers the SAME query from the stored
      // relations — one oracle proves both (lifecycle parity = hash-green)
      bm25TwinSql),
    // incremental index maintenance: build on 80% of the corpus,
    // persist, reload, fold the held-out batch in WITHOUT re-reading
    // the indexed docs (df counters merge, postings re-filter against
    // the merged cap, stats merge from exact integer sums), persist
    // the grown index, score from the reload. Same oracle as the
    // full-corpus recompute — hash-green == append-exactness proof
    Q("bm25_after_append", (s, d) => {
      val docs = t(s, d).documents
      val dir0 = java.nio.file.Files.createTempDirectory("graft-invidx-base").toString
      val dir1 = java.nio.file.Files.createTempDirectory("graft-invidx-grown").toString
      Retrieval.invIndexWrite(
        Retrieval.invIndexBuild(docs.where(col("doc_id") % 5 =!= 2), maxDf = RetrievalMaxDf), dir0)
      Retrieval.invIndexWrite(
        Retrieval.invIndexAppend(Retrieval.invIndexRead(s, dir0),
          docs.where(col("doc_id") % 5 === 2)), dir1)
      Retrieval.bm25FromIndex(Retrieval.invIndexRead(s, dir1), Bm25Terms, k = 20)
    })(
      // the appended index must answer exactly what a full rebuild
      // answers — one twin serves all three BM25 paths
      bm25TwinSql),
    // sketch MERGEABILITY — the property that makes approximate
    // distinct counts distributed: per-(segment, nation) HLL sketches
    // built in one pass, then UNIONED up to segment level (binary
    // sketch state merges; re-scanning is never needed). Rows-only
    // (estimates by design); SketchesSpec pins union == direct build
    // and the error bound
    RowsOnly("sketch_rollup", "merged HyperLogLog estimates are engine-specific")((s, d) => {
      val c = t(s, d).customer
      c.groupBy(col("c_mktsegment"), col("c_nationkey"))
        .agg(expr("hll_sketch_agg(c_custkey)").as("sk"))
        .groupBy(col("c_mktsegment"))
        .agg(expr("CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT)").as("approx_nd"))
        .orderBy("c_mktsegment")
    }),
    // fuzzy (edit-distance) join over the distinct part-name
    // dictionary: lossless positional q-gram count filter, then exact
    // levenshtein verify — never the O(N²) cross product. The twin IS
    // the cross product (the oracle may be naive; the operator may not)
    Q("fuzzy_name_pairs", (s, d) => {
      val names = t(s, d).part.groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("id"))
        .select(col("id"), col("p_name").as("s"))
      Dedup.editDistancePairs(names, q = 2, maxDist = 2).orderBy("id_a", "id_b")
    })(
      // naive all-pairs twin of the q-gram-filtered fuzzy join — the
      // operator is TOTAL (gram path for certifiable pairs, exact
      // length-banded tail for the short rest), so the twin carries no
      // length guard
      """WITH s AS (SELECT min(p_partkey) AS id, p_name AS s FROM part GROUP BY p_name)
        |SELECT a.id AS id_a, b.id AS id_b, CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM s a JOIN s b ON a.id < b.id
        |WHERE levenshtein(a.s, b.s) <= 2
        |ORDER BY id_a, id_b""".stripMargin),
    // the second native string-distance Expression: TRUE (unrestricted)
    // Damerau-Levenshtein over the same prefix blocks — exact integer
    // distances, swap-typo pairs plain levenshtein over-penalizes
    Q("dl_name_pairs", (s, d) => {
      blockedNamePairs(s, d)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          graft.functions.DamerauLevenshtein.damerauLevenshtein(col("a.s"), col("b.s"))
            .cast("long").as("dl"))
        .where(col("dl") <= 4)
        .orderBy("id_a", "id_b")
    })(
      // exact-integer compare against DuckDB's builtin of the same name
      """WITH s AS (SELECT min(p_partkey) AS id, p_name AS s, substring(p_name, 1, 3) AS blk
        |           FROM part GROUP BY p_name),
        | p AS (SELECT a.id AS id_a, b.id AS id_b,
        |       CAST(damerau_levenshtein(a.s, b.s) AS BIGINT) AS dl
        |       FROM s a JOIN s b ON a.blk = b.blk AND a.id < b.id)
        |SELECT id_a, id_b, dl FROM p WHERE dl <= 4 ORDER BY id_a, id_b""".stripMargin),
    // native-Expression fuzzy matching: Jaro-Winkler over 3-char
    // prefix blocks (the Winkler boost rewards exactly the prefix the
    // block shares) — raw doubles compared, since the kernel mirrors
    // DuckDB's RapidFuzz implementation operation-for-operation
    Q("jw_name_match", (s, d) => {
      blockedNamePairs(s, d)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          graft.functions.JaroWinkler.jaroWinkler(col("a.s"), col("b.s")).as("jw"))
        .where(col("jw") >= 0.88)
        .orderBy("id_a", "id_b")
    })(
      // raw-double compare: the Spark kernel is an op-for-op mirror of
      // the RapidFuzz implementation behind this DuckDB builtin
      """WITH s AS (SELECT min(p_partkey) AS id, p_name AS s, substring(p_name, 1, 3) AS blk
        |           FROM part GROUP BY p_name),
        | p AS (SELECT a.id AS id_a, b.id AS id_b, jaro_winkler_similarity(a.s, b.s) AS jw
        |       FROM s a JOIN s b ON a.blk = b.blk AND a.id < b.id)
        |SELECT id_a, id_b, jw FROM p
        |WHERE jw >= CAST(0.88 AS DOUBLE) ORDER BY id_a, id_b""".stripMargin),
    // exact dedup with a PRIORITY survivor rule: within each digest
    // group the curated (highest-priority) copy wins, min id on ties —
    // one bounded max_by buffer per group, never a per-key sort
    Q("priority_dedup", (s, d) => {
      val docs = t(s, d).documents.withColumn("priority", col("doc_id") % 7)
      Dedup.priorityDedup(docs)
        .select(col("doc_id"), col("lang"), col("priority"))
        .orderBy("doc_id")
    })(
      """WITH p AS (SELECT doc_id, lang, text, doc_id % 7 AS priority FROM documents),
        | r AS (SELECT doc_id, lang, priority,
        |   row_number() OVER (PARTITION BY text ORDER BY priority DESC, doc_id) AS rn
        |   FROM p)
        |SELECT doc_id, lang, priority FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    // per-source data budget: keep each language's docs in
    // deterministic multiplicative-hash order until the char budget is
    // reached — "at most N chars per source" stated directly
    Q("budget_cap", (s, d) =>
      Corpus.budgetCap(t(s, d).documents, budget = 20000)
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id"))(
      """WITH w AS (SELECT doc_id, lang, length(text) AS n_chars,
        |   ((doc_id % 2147483648) * 2654435761) % 4294967296 AS ord FROM documents),
        | c AS (SELECT doc_id, lang, n_chars,
        |   sum(n_chars) OVER (PARTITION BY lang ORDER BY ord, doc_id) AS cum FROM w)
        |SELECT doc_id, lang, n_chars FROM c WHERE cum <= 20000 ORDER BY doc_id""".stripMargin),
    // the same budget governor keyed on the CRAWL site key: each doc
    // carries its page host (URL fixture) + registered domain, and the
    // char budget caps per HOST — "at most N chars per site", the
    // anti-single-source-domination rule a crawl corpus actually
    // enforces (host keys come from the engine's own URL normalizer)
    Q("domain_budget_cap", (s, d) => {
      val pages = Html.urlPageFromDocs(t(s, d).documents)
      // r15: site keyed by the PSL snapshot join (values unchanged on
      // the fixture — PublicSuffixSpec pins heuristic agreement — but
      // the twin now replays the real algorithm)
      val docs = graft.operators.PublicSuffix.withSite(
        t(s, d).documents
          .join(pages.select(col("doc_id"), Html.urlHost(col("url")).as("host")), Seq("doc_id")))
      Corpus.budgetCap(docs, budget = 800, groupCol = "host")
        .select(col("doc_id"), col("host"), col("site"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }) {
      // same window device partitioned on the closed-form fixture host
      // site from the PSL CTE chain (r15) — no closed-form shortcut;
      // the twin runs the same published algorithm over the same
      // bundled snapshot the engine broadcasts
      val ss = Html.SiteSpace
      s"""WITH w AS (SELECT doc_id, ${sqlHost(s"doc_id%$ss")} AS host,
         |   length(text) AS n_chars,
         |   ((doc_id % 2147483648) * 2654435761) % 4294967296 AS ord FROM documents),
         |${pslCtes("w")},
         | c AS (SELECT doc_id, w.host, coalesce(m.site, lower(w.host)) AS site, n_chars,
         |   sum(n_chars) OVER (PARTITION BY w.host ORDER BY ord, doc_id) AS cum
         |  FROM w JOIN psl_map m ON m.host = w.host)
         |SELECT doc_id, host, site, n_chars FROM c WHERE cum <= 800 ORDER BY doc_id""".stripMargin
    },
    // one-scan column profiling: every measure for every column in a
    // single partial+final aggregate, unpivoted to the catalog's long
    // format — the summary a pipeline runs before trusting a source
    Q("column_profile", (s, d) =>
      Profiling.columnProfile(t(s, d).customer,
          Seq("c_custkey", "c_name", "c_mktsegment", "c_nationkey"))
        .orderBy("col_name")) {
      val cols = Seq("c_custkey", "c_name", "c_mktsegment", "c_nationkey")
      cols.map(c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           | count(*) - count($c) AS n_null, count(DISTINCT $c) AS n_distinct,
           | CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s
           |FROM customer""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    // ENTITY RESOLUTION over the part-name dictionary: fuzzy pairs →
    // transitive min-label clusters → deterministic canonical pick
    // (the entity's min-id name). Twin = naive N² levenshtein +
    // recursive-CTE closure — the oracle may be quadratic, the
    // operator may not
    Q("entity_resolution", (s, d) => {
      val names = t(s, d).part.groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("id"))
        .select(col("id"), col("p_name").as("s"))
      Dedup.resolveEntities(names, q = 2, maxDist = 2).orderBy("id")
    })(
      """WITH RECURSIVE s AS (SELECT min(p_partkey) AS id, p_name AS s FROM part GROUP BY p_name),
        | j AS (SELECT a.id AS src, b.id AS dst FROM s a JOIN s b
        |       ON a.id <> b.id AND levenshtein(a.s, b.s) <= 2),
        | reach(id, label) AS (
        |   SELECT id, id FROM s
        |   UNION
        |   SELECT j.dst, r.label FROM reach r JOIN j ON j.src = r.id
        | ),
        | lab AS (SELECT id, min(label) AS entity_id FROM reach GROUP BY id)
        |SELECT l.id, s.s, l.entity_id, cs.s AS canonical
        |FROM lab l JOIN s USING (id) JOIN s cs ON cs.id = l.entity_id
        |ORDER BY id""".stripMargin),
    // connected components over J >= 0.3 pairs: canonical doc per cluster
    Q("dedup_clusters", (s, d) => {
      val docs = t(s, d).documents
      val pairs = Dedup.jaccardPairs(docs).where(col("jaccard") >= 0.3)
      Dedup.nearDupClusters(pairs, docs).orderBy("doc_id")
    })(
      // same capped-shingle Jaccard pipeline as near_dup_jaccard, then
      // min-label transitive closure via a recursive CTE
      s"""$dedupClustersCtes
         |SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // duplication-corrected sampling: keep rate 1/family_size per
    // near-dup family (content-hash keyed) — the corpus keeps ONE
    // expected copy per family instead of rewarding replication
    Q("dedup_weighted_sample", (s, d) => {
      val docs = t(s, d).documents
      val pairs = Dedup.jaccardPairs(docs).where(col("jaccard") >= 0.3)
      Dedup.nearDupClusters(pairs, docs)
        .join(docs.select(col("doc_id"), col("text")), "doc_id")
        .withColumn("family_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .where(Corpus.hashPermille(col("text")) * col("family_size") < 1000)
        .select(col("doc_id"), col("cluster_id"), col("family_size"))
        .orderBy("doc_id")
    })(
      // reachability labels + per-family size; keep iff
      // hashPermille(text)·size < 1000 — one expected survivor/family
      s"""$dedupClustersCtes,
         | lab AS (SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id),
         | sz AS (SELECT lab.doc_id, lab.cluster_id,
         |        count(*) OVER (PARTITION BY lab.cluster_id) AS family_size FROM lab)
         |SELECT sz.doc_id, sz.cluster_id, CAST(sz.family_size AS BIGINT) AS family_size
         |FROM sz JOIN documents d ON d.doc_id = sz.doc_id
         |WHERE $HashPermille * sz.family_size < 1000
         |ORDER BY sz.doc_id""".stripMargin),
    // dedup ROI report: near-dup family-size histogram — how much of
    // the corpus is singletons vs deep copy families (the number that
    // prices a better dedup pass); one rollup over the cluster labels
    Q("dedup_family_sizes", (s, d) => {
      val docs = t(s, d).documents
      val pairs = Dedup.jaccardPairs(docs).where(col("jaccard") >= 0.3)
      Dedup.nearDupClusters(pairs, docs)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("family_size")).agg(count(lit(1)).as("n_families"))
        .orderBy("family_size")
    })(
      // same reachability CTEs rolled to family-size grain
      s"""$dedupClustersCtes,
         | lab AS (SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id),
         | cs AS (SELECT cluster_id, count(*) AS sz FROM lab GROUP BY 1)
         |SELECT sz AS family_size, count(*) AS n_families
         |FROM cs GROUP BY 1 ORDER BY 1""".stripMargin),
    // per-doc character-level Shannon entropy (rounded-nats DECIMAL
    // sums, the skew_report device) — low-entropy docs are repetitive
    // or padded; extreme-high are mojibake/binary leaks
    Q("char_entropy", (s, d) => {
      val docs = t(s, d).documents
      docs.select(col("doc_id"),
          explode(filter(split(col("text"), ""), c => length(c) > 0)).as("ch"))
        .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("n"))
        .withColumn("tot", sum(col("n")).over(
          Window.partitionBy(col("doc_id"))))
        .withColumn("p", col("n").cast("double") / col("tot").cast("double"))
        .withColumn("h_term", round(col("p") * -log(col("p")), 9).cast("decimal(38,9)"))
        .groupBy(col("doc_id"))
        .agg(max(col("tot")).as("n_chars"), count(lit(1)).as("n_distinct_chars"),
          sum(col("h_term")).as("h_nats"))
        .select(col("doc_id"), col("n_chars"), col("n_distinct_chars"),
          round(col("h_nats").cast("double") / lit(math.log(2.0)), 6).as("entropy_bits"))
        .orderBy("doc_id")
    })(
      // the skew_report entropy device at character grain
      """WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
        | g AS (SELECT doc_id, ch, count(*) AS n FROM c WHERE length(ch) > 0 GROUP BY 1, 2),
        | w AS (SELECT doc_id, ch, n, CAST(sum(n) OVER (PARTITION BY doc_id) AS BIGINT) AS tot FROM g),
        | p AS (SELECT doc_id, tot, CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p FROM w),
        | h AS (SELECT doc_id, tot, CAST(round(p * -ln(p), 9) AS DECIMAL(38,9)) AS h_term FROM p),
        | a AS (SELECT doc_id, max(tot) AS n_chars, count(*) AS n_distinct_chars,
        |       sum(h_term) AS h_nats FROM h GROUP BY 1)
        |SELECT doc_id, n_chars, n_distinct_chars,
        | round(CAST(h_nats AS DOUBLE) / ln(2.0), 6) AS entropy_bits
        |FROM a ORDER BY doc_id""".stripMargin),
    // replica reconciliation (the Merkle-tree move, relationally):
    // bucket both copies by id, compare counts + engine-exact
    // fingerprint sums — divergence localizes to buckets without ever
    // shipping rows; fixture diverges replica B deterministically
    Q("table_reconcile", (s, d) => {
      val docs = t(s, d).documents
      val a = docs.select(col("doc_id"), col("text"))
      val b = docs.where(col("doc_id") =!= 42)
        .select(col("doc_id"),
          when(col("doc_id") % 97 === 13, concat(col("text"), lit(" tampered")))
            .otherwise(col("text")).as("text"))
      def sums(df: DataFrame, nCol: String, fCol: String) =
        TextQuality.fingerprintRef(df)
          .select((col("doc_id") % 16).as("bucket"), col("fp"))
          .groupBy("bucket").agg(count(lit(1)).as(nCol), sum(col("fp")).as(fCol))
      sums(a, "n_a", "f_a").join(sums(b, "n_b", "f_b"), Seq("bucket"), "full")
        .select(col("bucket"),
          coalesce(col("n_a"), lit(0L)).as("n_a"), coalesce(col("n_b"), lit(0L)).as("n_b"),
          coalesce(col("f_a"), lit(0L)).as("f_a"), coalesce(col("f_b"), lit(0L)).as("f_b"))
        .withColumn("diverged", col("n_a") =!= col("n_b") || col("f_a") =!= col("f_b"))
        .orderBy("bucket")
    }) {
      def fpSum(srcCte: String, pfx: String): String =
        s""" ${pfx}cw AS (SELECT doc_id, list_filter(list_transform(
           |    list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), t -> length(t) > 0),
           |    t -> lower(regexp_replace(t, '$P', '', 'g'))), w -> length(w) > 0) AS ws FROM $srcCte),
           | ${pfx}h AS (SELECT doc_id, list_transform(ws, w ->
           |    CAST(coalesce(list_sum(list_transform(string_split(w, ''), c -> 22 + 23*(ascii(c) - 14))), 0) AS BIGINT)) AS hs
           |  FROM ${pfx}cw),
           | ${pfx}fp AS (SELECT doc_id % 16 AS bucket,
           |    CAST(((list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
           |      (acc, x) -> (acc * 31 + x) % 1000000007) % 1000000007) + 1000000007) % 1000000007 AS BIGINT) AS fp
           |  FROM ${pfx}h),
           | ${pfx}s AS (SELECT bucket, count(*) AS n, CAST(sum(fp) AS BIGINT) AS f FROM ${pfx}fp GROUP BY 1)""".stripMargin
      s"""WITH ta AS (SELECT doc_id, text FROM documents),
         | tb AS (SELECT doc_id, CASE WHEN doc_id % 97 = 13 THEN text || ' tampered' ELSE text END AS text
         |        FROM documents WHERE doc_id <> 42),
         |${fpSum("ta", "ra")},
         |${fpSum("tb", "rb")}
         |SELECT coalesce(x.bucket, y.bucket) AS bucket,
         | coalesce(x.n, 0) AS n_a, coalesce(y.n, 0) AS n_b,
         | coalesce(x.f, 0) AS f_a, coalesce(y.f, 0) AS f_b,
         | (coalesce(x.n, 0) <> coalesce(y.n, 0) OR coalesce(x.f, 0) <> coalesce(y.f, 0)) AS diverged
         |FROM ras x FULL JOIN rbs y ON x.bucket = y.bucket
         |ORDER BY bucket""".stripMargin
    },
    // the dedup ops dashboard: per language, how many docs survive
    // each stage — raw → exact (distinct digests) → near-dup (cluster
    // min-id survivors) — the one report that says which stage is
    // actually paying for itself on this corpus
    Q("dedup_funnel", (s, d) => {
      val docs = t(s, d).documents
      val pairs = Dedup.jaccardPairs(docs).where(col("jaccard") >= 0.3)
      val lab = Dedup.nearDupClusters(pairs, docs)
      val surv = lab.where(col("doc_id") === col("cluster_id")).select(col("doc_id"))
      val raw = docs.groupBy("lang").agg(count(lit(1)).as("n_raw"),
        countDistinct(sha2(col("text"), 256)).as("n_exact"))
      val near = surv.join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang").agg(count(lit(1)).as("n_near"))
      raw.join(near, Seq("lang"), "left")
        .select(col("lang"), col("n_raw"), col("n_exact"),
          coalesce(col("n_near"), lit(0L)).as("n_near"))
        .orderBy("lang")
    })(
      s"""$dedupClustersCtes,
         | lab AS (SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id),
         | surv AS (SELECT doc_id FROM lab WHERE doc_id = cluster_id),
         | raw AS (SELECT lang, count(*) AS n_raw,
         |         CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_exact FROM documents GROUP BY 1),
         | nn AS (SELECT d.lang, count(*) AS n_near FROM surv JOIN documents d USING (doc_id) GROUP BY 1)
         |SELECT raw.lang, n_raw, n_exact, coalesce(nn.n_near, 0) AS n_near
         |FROM raw LEFT JOIN nn USING (lang) ORDER BY raw.lang""".stripMargin),
    // near-dup families keep their BEST copy (length as the quality
    // proxy), not the min id — the priorityDedup survivor rule lifted
    // to similarity clusters; one bounded max_by buffer per family
    Q("cluster_best_pick", (s, d) => {
      val docs = t(s, d).documents
      val pairs = Dedup.jaccardPairs(docs).where(col("jaccard") >= 0.3)
      val scored = docs.select(col("doc_id"),
        length(col("text")).cast("long").as("score"))
      Dedup.bestPerCluster(Dedup.nearDupClusters(pairs, docs), scored)
        .orderBy("cluster_id")
    })(
      s"""$dedupClustersCtes,
         | lab AS (SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id),
         | L AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS score FROM documents),
         | r AS (SELECT cluster_id, lab.doc_id, score,
         |        row_number() OVER (PARTITION BY cluster_id ORDER BY score DESC, lab.doc_id) AS rn
         |        FROM lab JOIN L USING (doc_id))
         |SELECT cluster_id, doc_id AS keep_id, score FROM r WHERE rn = 1
         |ORDER BY cluster_id""".stripMargin),
    // incremental NEAR-dup ingest: the odd-id batch admits against the
    // even-id corpus's persisted band store — near-dup memory at
    // bands×8 bytes/doc, corpus text never re-read (rows-only: LSH
    // admission is approximate by design; DedupSpec pins semantics)
    Q("minhash_ingest", (s, d) => {
      val docs = t(s, d).documents
      val store = Dedup.bandKeys(docs.where(col("doc_id") % 2 === 0))
      Dedup.incrementalMinhashDedup(docs.where(col("doc_id") % 2 === 1), store)
        .select(col("doc_id"), col("lang")).orderBy("doc_id")
    })(
      // minhash_ingest CONVERTED (round 12): the incremental LSH
      // admission gate replayed band-for-band — see minhashIngestTwinSql
      minhashIngestTwinSql),
    // the LSH-admission gate's EXACT invariant, hash-checked: clones
    // of store documents (identical text → identical raw token stream
    // → identical minhash signature → every band collides) MUST all be
    // rejected — so the rejected-clone set is derivable relationally
    // with no minhash in sight. A broken hash/banding path admits a
    // clone and this loses a row; the approximate near-dup behavior
    // stays minhash_ingest's (rows-only) and DedupSpec's
    Q("minhash_ingest_clone_rejects", (s, d) => {
      val docs = t(s, d).documents
      val store = Dedup.bandKeys(docs.where(col("doc_id") % 2 === 0))
      val clones = docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(10000L)).as("doc_id"), col("lang"), col("text"))
      val batch = docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("text"))
        .unionByName(clones)
      val admitted = Dedup.incrementalMinhashDedup(batch, store).select(col("doc_id"))
      clones
        // a clone with < 3 whitespace tokens has no shingles, hence no
        // bands to collide on — outside the guarantee on both engines
        .where(size(filter(split(col("text"), TextOps.TokenSepRe),
          tk => length(tk) > 0)) >= 3)
        .join(admitted, Seq("doc_id"), "left_anti")
        .select(col("doc_id")).orderBy("doc_id")
    })(
      // every planted store-clone with >= 3 tokens must be rejected by
      // the LSH gate (identical text → identical signature → every band
      // collides) — the rejected set is closed-form
      """WITH tk AS (SELECT doc_id,
        |   list_filter(string_split_regex(text, '[ \t\n\f\r]+'), t -> length(t) > 0) AS tk
        |   FROM documents)
        |SELECT doc_id + 10000 AS doc_id FROM tk
        |WHERE doc_id % 10 = 0 AND len(tk) >= 3 ORDER BY 1""".stripMargin),
    Q("minhash_near_dups", (s, d) =>
      Dedup.minhashNearDups(t(s, d).documents, minJaccard = 0.3).orderBy("doc_a", "doc_b"))(
      // minhash_near_dups CONVERTED from rows-only to a full hash oracle
      // (round 12): signatures, band keys, candidates AND the Jaccard
      // verify all replay — see minhashNearDupsTwinSql
      minhashNearDupsTwinSql),
    Q("simhash", (s, d) => Dedup.simhash(t(s, d).documents).orderBy("doc_id"))(
      // simhash CONVERTED from rows-only to a full hash oracle (round
      // 12): the per-word xxhash64 is replayed by the XXH64-in-SQL
      // device (xxh64WordCtes), bit sums and the 64-bit fingerprint
      // assemble in exact integer arithmetic — the whole fingerprint
      // relation, not just the clone invariant, now sits behind the gate
      s"""$WDoc,
         | xw AS (SELECT DISTINCT word FROM w),
         |${xxh64WordCtes},
         | wcc AS (SELECT doc_id, word, count(*) AS w_cnt FROM w GROUP BY 1, 2),
         | hb AS (SELECT doc_id, w_cnt,
         |   CAST(CASE WHEN h >= 9223372036854775808 THEN h - $XW ELSE h END AS BIGINT) AS hs
         |   FROM wcc JOIN xh USING (word)),
         | bits AS (SELECT doc_id, j, sum(CASE WHEN ((hs >> CAST(j AS INT)) & 1) = 1 THEN w_cnt ELSE -w_cnt END) AS b
         |   FROM hb CROSS JOIN (SELECT unnest(range(64)) AS j) GROUP BY 1, 2),
         | fpu AS (SELECT doc_id, sum(CASE WHEN b > 0 THEN (1::HUGEINT << CAST(j AS INT)) ELSE 0::HUGEINT END) AS u
         |   FROM bits GROUP BY 1)
         |SELECT doc_id, CAST(CASE WHEN u >= 9223372036854775808 THEN u - $XW ELSE u END AS BIGINT) AS simhash
         |FROM fpu ORDER BY doc_id""".stripMargin))

  /** The all-terms relevance set both retrieval_eval and
    * hard_negative_mining grade against: docs whose CLEANED vocabulary
    * contains every query term. One definition per engine
    * ([[bm25RelCte]] is the DuckDB half) so the two queries' relevance
    * can never diverge. */
  private def bm25RelevanceSet(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
        TextOps.cleanTokens(col("text")).as("ws"))
      .where(Bm25Terms.map(term => array_contains(col("ws"), term)).reduce(_ && _))
      .select(col("doc_id"))

  /** [[bm25RelevanceSet]]'s twin CTE (expects `w(doc_id, word)` in
    * scope — the WDoc relation). */
  private lazy val bm25RelCte: String =
    s"""rel AS (SELECT doc_id FROM w WHERE word IN (${Bm25Terms.map(x => s"'$x'").mkString(", ")})
       |         GROUP BY doc_id HAVING count(DISTINCT word) = ${Bm25Terms.size})""".stripMargin

  // phrase with multi-occurrence docs at sf0.01 (8 hits over 5 docs)
  // so the occurrence COUNT is exercised, not just membership
  private[graft] val PhraseTerms = Seq("slow", "hash", "batch")

  /** nDCG rank discounts 1/log2(r+1) for r = 1..10, rounded(12) ONCE
    * in Scala and interpolated into BOTH engines — neither engine
    * ever computes a log, so the only cross-engine arithmetic is an
    * exact-input multiply + round (the decayed_counts device). */
  private[graft] val NdcgDiscounts: Seq[(Long, Double)] = (1 to 10).map { r =>
    val w = 1.0 / (math.log(r + 1.0) / math.log(2.0))
    (r.toLong, BigDecimal(w).setScale(12, BigDecimal.RoundingMode.HALF_EVEN).toDouble)
  }

  /** The near-dup cluster CTEs (shingles → J≥0.3 edges → recursive
    * min-label closure), shared by `dedup_clusters` and
    * `cluster_best_pick`. */
  private lazy val dedupClustersCtes: String =
    s"""${RareShingleCtes.replaceFirst("WITH ", "WITH RECURSIVE ")}
      | j AS (SELECT doc_a, doc_b, inter / (ca.n_sh + cb.n_sh - inter) AS jaccard
      |        FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b),
      | e AS (SELECT doc_a AS src, doc_b AS dst FROM j WHERE jaccard >= 0.3
      |       UNION ALL SELECT doc_b AS src, doc_a AS dst FROM j WHERE jaccard >= 0.3),
      | reach(doc_id, label) AS (
      |   SELECT doc_id, doc_id FROM documents
      |   UNION
      |   SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.doc_id
      | )""".stripMargin

  /** The shared shingle → signature → band-key prefix, built once. */
  private lazy val minhashPrefixSql: String = {
    def sm(x0: Long): Long = {
      var z = x0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d9a79fb9e4b8a7L
      z ^ (z >>> 31)
    }
    def u64(v: Long): String = java.lang.Long.toUnsignedString(v)
    val k = 32; val bands = 8; val r = k / bands
    def xsig(e: String) =
      s"CAST(CASE WHEN ($e) >= 9223372036854775808 THEN ($e) - $XW ELSE ($e) END AS BIGINT)"
    def xuns(e: String) =
      s"(CAST(($e) AS HUGEINT) + CASE WHEN ($e) < 0 THEN $XW ELSE 0 END)"
    val sigAggs = (0 until k).map { i =>
      // the same splitmix-derived (odd a, b) constants Dedup's
      // minhashSignatures compiles into the plan
      s"min(${xsig(xadd(xmul("hu", u64(sm(2L * i) | 1L)), u64(sm(2L * i + 1))))} ) AS s$i"
    }.mkString(",\n   ")
    val sigList = (0 until k).map(i => xuns(s"s$i")).mkString("[", ", ", "]")
    def fmixStages(pfx: String, src: String) = Seq(
      s" ${pfx}f1 AS (SELECT * EXCLUDE (h), ${xxor("h", "h // 8589934592")} AS h FROM $src)",
      s" ${pfx}f2 AS (SELECT * EXCLUDE (h), ${xmul("h", XP2)} AS h FROM ${pfx}f1)",
      s" ${pfx}f3 AS (SELECT * EXCLUDE (h), ${xxor("h", "h // 536870912")} AS h FROM ${pfx}f2)",
      s" ${pfx}f4 AS (SELECT * EXCLUDE (h), ${xmul("h", XP3)} AS h FROM ${pfx}f3)",
      s" ${pfx}f5 AS (SELECT * EXCLUDE (h), ${xxor("h", "h // 4294967296")} AS h FROM ${pfx}f4)")
    val seed0 = "2870177450012600307" // 42 + PRIME64_5 + 4 (hashInt init)
    val stages = scala.collection.mutable.ArrayBuffer[String]()
    stages += s" hi0 AS (SELECT doc_id, band, e1,e2,e3,e4, ${xxor(seed0, xmul("band", XP1))} AS h FROM bd0)"
    stages += s" hi1 AS (SELECT * EXCLUDE (h), ${xadd(xmul(xrot("h", 23), XP2), XP3)} AS h FROM hi0)"
    stages ++= fmixStages("hi", "hi1")
    var prev = "hif5"
    for (j <- 1 to r) {
      stages += s" hl${j}a AS (SELECT * EXCLUDE (h), ${xadd(xadd("h", XP5), "8")} AS h, ${xmul(xrot(xmul(s"e$j", XP2), 31), XP1)} AS k1 FROM $prev)"
      stages += s" hl${j}b AS (SELECT * EXCLUDE (h, k1), ${xxor("h", "k1")} AS h FROM hl${j}a)"
      stages += s" hl${j}c AS (SELECT * EXCLUDE (h), ${xadd(xmul(xrot("h", 27), XP1), XP4)} AS h FROM hl${j}b)"
      stages ++= fmixStages(s"hl$j", s"hl${j}c")
      prev = s"hl${j}f5"
    }
    minhashChainPrefix(sigAggs, sigList, r, bands, stages.mkString(",\n"), prev)
  }

  /** The minhash_near_dups twin: Spark's ENTIRE MinHash+LSH pipeline
    * replayed in DuckDB — shingle xxhash64 ids (xxh64WordCtes), the 32
    * a·h+b wrapping permutations with SIGNED-long minimums (Spark's
    * min() orders two's-complement longs), per-band key = Spark
    * XXH64.hashInt(band, 42) chained through four XXH64.hashLong
    * element rounds (each with its own avalanche — the multi-input
    * xxhash64 semantics), co-band candidates, and the df-capped exact
    * Jaccard verify. Every hash step runs as a fine-grained CTE stage
    * (intermediates are COLUMNS — a nested expression would duplicate
    * subtrees exponentially), with MATERIALIZED hints on the reused
    * relations so the planner never inlines the 60-stage chain. */
  private def minhashNearDupsTwinSql: String =
    s"""WITH $minhashPrefixSql,
       | cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |   FROM bk x JOIN bk y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       | sids AS MATERIALIZED (SELECT DISTINCT doc_id, h AS sh FROM shl JOIN xh ON xh.word = shl.shingle),
       | rare AS (SELECT sh FROM sids GROUP BY sh HAVING count(*) <= 10),
       | cs AS (SELECT doc_id, sh FROM sids JOIN rare USING (sh)),
       | cnts AS (SELECT doc_id, count(*) AS n_sh FROM cs GROUP BY 1),
       | inter AS (SELECT doc_a, doc_b, count(*) AS i FROM cand
       |   JOIN cs a ON a.doc_id = doc_a JOIN cs b ON b.doc_id = doc_b AND b.sh = a.sh
       |   GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (ca.n_sh + cb.n_sh - i) AS jaccard
       |FROM inter JOIN cnts ca ON ca.doc_id = doc_a JOIN cnts cb ON cb.doc_id = doc_b
       |WHERE CAST(i AS DOUBLE) / (ca.n_sh + cb.n_sh - i) >= 0.3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The minhash_ingest twin: the SAME band-key chain, replaying the
    * incremental admission rule — an odd (batch) doc drops when any
    * band key collides with the even (store) side or with a LOWER-id
    * batch mate; shingle-less docs carry no keys and are always
    * admitted (exactly incrementalMinhashDedup's anti-join). */
  private def minhashIngestTwinSql: String =
    s"""WITH $minhashPrefixSql,
       | st AS (SELECT band, bh FROM bk WHERE doc_id % 2 = 0),
       | bt AS (SELECT doc_id, band, bh FROM bk WHERE doc_id % 2 = 1),
       | drops AS (SELECT DISTINCT doc_id FROM (
       |   SELECT x.doc_id FROM bt x JOIN st ON x.band = st.band AND x.bh = st.bh
       |   UNION ALL
       |   SELECT x.doc_id FROM bt x JOIN bt y ON x.band = y.band AND x.bh = y.bh AND x.doc_id > y.doc_id))
       |SELECT d.doc_id, d.lang FROM documents d
       |WHERE d.doc_id % 2 = 1 AND d.doc_id NOT IN (SELECT doc_id FROM drops)
       |ORDER BY d.doc_id""".stripMargin

  /** The shared shingle → signature → band-key CTE prefix (exposes
    * `shl`, `xh`, and `bk(doc_id, band, bh)` over the full documents
    * table — per-doc signatures depend only on the doc's own shingles,
    * so filtering bk afterward equals Spark's compute-per-subset). */
  private def minhashChainPrefix(sigAggs: String, sigList: String, r: Int,
                                 bands: Int, stages: String, last: String): String =
    s"""tl AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS toks
       |   FROM documents),
       | shl AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 2), i ->
       |    array_to_string(list_slice(toks, CAST(i+1 AS INT), CAST(i+3 AS INT)), ' '))) AS shingle
       |    FROM tl WHERE len(toks) >= 3),
       | xw AS (SELECT DISTINCT shingle AS word FROM shl),
       |${xxh64WordCtes},
       | dsh AS (SELECT DISTINCT doc_id, h AS hu FROM shl JOIN xh ON xh.word = shl.shingle),
       | sg AS (SELECT doc_id,
       |   $sigAggs
       |   FROM dsh GROUP BY doc_id),
       | sigl AS MATERIALIZED (SELECT doc_id, $sigList AS sig FROM sg),
       | bd0 AS (SELECT doc_id, band,
       |    sig[CAST(band*$r+1 AS INT)] AS e1, sig[CAST(band*$r+2 AS INT)] AS e2,
       |    sig[CAST(band*$r+3 AS INT)] AS e3, sig[CAST(band*$r+4 AS INT)] AS e4
       |    FROM sigl CROSS JOIN (SELECT unnest(range($bands)) AS band)),
       |$stages,
       | bk AS MATERIALIZED (SELECT doc_id, band, h AS bh FROM $last)""".stripMargin

  /** TF-IDF cosine top-k twin — a val so the rrf_fusion twin can
    * embed the identical query as a subquery. */
  private lazy val tfidfTopkTwin: String =
    s"""$TfidfVecCtes,
       | q AS (SELECT dim_idx, v AS qv FROM vec WHERE doc_id = 0),
       | sc AS (SELECT vec.doc_id, CAST(sum(CAST(round(vec.v * q.qv, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sp
       |        FROM vec JOIN q USING (dim_idx) WHERE vec.doc_id <> 0 GROUP BY 1)
       |SELECT doc_id, round(sp, 6) AS cos FROM sc ORDER BY cos DESC, doc_id LIMIT 20""".stripMargin

  /** Phrase twin: same cleaned token stream as WDoc, but with 1-based
    * positions derived from generate_series over the filtered token
    * LIST (order-free positional arithmetic, the shingle-CTE device),
    * then the identical positional intersection: start positions of
    * term 0 survive iff term i's list holds p+i for every i. */
  private lazy val phraseTwinSql: String = {
    val ts = PhraseTerms
    val inList = ts.distinct.map(t => s"'$t'").mkString(", ")
    val pCtes = ts.zipWithIndex.map { case (t, i) =>
      s" p$i AS (SELECT doc_id, list_sort(list(pos)) AS ps FROM px WHERE word = '$t' GROUP BY doc_id)"
    }.mkString(",\n")
    val joins = (1 until ts.length).map(i => s"JOIN p$i USING (doc_id)").mkString(" ")
    val conds = (1 until ts.length).map(i => s"list_contains(p$i.ps, p + $i)").mkString(" AND ")
    val filt = if (ts.length == 1) "p0.ps" else s"list_filter(p0.ps, p -> $conds)"
    s"""WITH toksc AS (SELECT doc_id,
       |   list_filter(list_transform(string_split_regex(text, '[ \\t\\n\\f\\r]+'),
       |     x -> lower(regexp_replace(x, '$P', '', 'g'))), x -> length(x) > 0) AS l
       |  FROM documents),
       | px AS (SELECT doc_id, l[i] AS word, i AS pos
       |   FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM toksc) z
       |   WHERE l[i] IN ($inList)),
       |$pCtes,
       | m AS (SELECT p0.doc_id, len($filt) AS n_matches FROM p0 $joins)
       |SELECT doc_id, n_matches FROM m WHERE n_matches > 0 ORDER BY doc_id""".stripMargin
  }

  /** Shared CTE chain for the hashed-TF-IDF family: tokenize (WDoc) →
    * tf/df/N → rounded(12) idf → refBinHash dim assignment →
    * DECIMAL-summed per-dim mass → exact-decimal L2 norm → rounded(8)
    * normalized sparse vectors. Every arithmetic step mirrors
    * Retrieval.tfidfHashedVectors operation-for-operation. */
  private lazy val TfidfVecCtes: String =
    s"""$WDoc,
       | tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
       | dft AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
       | nn AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
       | idf AS (SELECT word,
       |   round(ln((CAST((SELECT n FROM nn) AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)) + 1.0, 12) AS idf
       |  FROM dft),
       | ct AS (SELECT doc_id,
       |   CAST((coalesce(list_sum(list_transform(string_split(tf.word, ''), c -> 22 + 23 * (ascii(c) - 14))), 0) % 64 + 64) % 64 AS BIGINT) AS dim_idx,
       |   CAST(round(CAST(tf.tf AS DOUBLE) * idf.idf, 12) AS DECIMAL(38,12)) AS c
       |  FROM tf JOIN idf USING (word)),
       | sd AS (SELECT doc_id, dim_idx, CAST(sum(c) AS DOUBLE) AS s FROM ct GROUP BY 1, 2),
       | nr AS (SELECT doc_id, sqrt(CAST(sum(CAST(round(s * s, 12) AS DECIMAL(38,12))) AS DOUBLE)) AS norm
       |        FROM sd GROUP BY 1),
       | vec AS (SELECT sd.doc_id, sd.dim_idx, round(s / norm, 8) AS v FROM sd JOIN nr USING (doc_id))""".stripMargin

  /** MMR twin: the 5 greedy selection rounds UNROLLED (the kmeans/
    * pageRank device), each round an argmax window over
    * λ·rel − (1−λ)·runningMaxSim and a broadcast-similarity update.
    * The shared vec/rel/m/p relations are AS MATERIALIZED — DuckDB
    * inlines multiply-referenced CTEs, and the m-chain references
    * m(i−1) twice per level (directly and through the pick), which
    * inlined goes exponential (the hits-twin lesson). λ and 1−λ are
    * the engine's own Scala doubles, rendered with an e0 suffix so
    * DuckDB parses them as DOUBLE, not DECIMAL. */
  private lazy val mmrTwinSql: String = {
    val lam = 0.7
    val mu = 1.0 - lam
    def dbl(x: Double) =
      if (x.toString.toLowerCase.contains("e")) x.toString else x.toString + "e0"
    def sim(src: String, out: String) =
      s"SELECT vecm.doc_id, round(CAST(sum(CAST(round(vecm.v * $src.tv, 12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS $out" +
        s" FROM vecm JOIN $src USING (dim_idx) GROUP BY 1"
    val steps = (1 to 5).map { i =>
      val excl = (1 until i).map(j => s"AND relm.doc_id NOT IN (SELECT doc_id FROM p$j)").mkString(" ")
      val base =
        s""" sc$i AS (SELECT relm.doc_id, round(${dbl(lam)} * relm.rel - ${dbl(mu)} * m${i - 1}.msim, 6) AS score
           |   FROM relm JOIN m${i - 1} USING (doc_id) WHERE 1=1 $excl),
           | p$i AS MATERIALIZED (SELECT doc_id, score FROM sc$i ORDER BY score DESC, doc_id LIMIT 1)""".stripMargin
      if (i < 5)
        base +
          s""",
             | sv$i AS (SELECT dim_idx, v AS tv FROM vecm WHERE doc_id = (SELECT doc_id FROM p$i)),
             | sm$i AS (${sim(s"sv$i", "s")}),
             | m$i AS MATERIALIZED (SELECT m${i - 1}.doc_id, greatest(m${i - 1}.msim, coalesce(sm$i.s, 0.0)) AS msim
             |   FROM m${i - 1} LEFT JOIN sm$i USING (doc_id))""".stripMargin
      else base
    }.mkString(",\n")
    s"""$TfidfVecCtes,
       | vecm AS MATERIALIZED (SELECT * FROM vec),
       | q AS (SELECT dim_idx, v AS tv FROM vecm WHERE doc_id = 0),
       | relm AS MATERIALIZED (SELECT * FROM (${sim("q", "rel")}) r WHERE doc_id <> 0),
       | m0 AS MATERIALIZED (SELECT doc_id, CAST(0.0 AS DOUBLE) AS msim FROM relm),
       |$steps
       |${(1 to 5).map(i => s"SELECT CAST($i AS BIGINT) AS rank, doc_id, score FROM p$i").mkString("\nUNION ALL\n")}
       |ORDER BY rank""".stripMargin
  }

  /** Whitespace-token 3-shingles with the stop-shingle cap mirrored
    * from Dedup.DefaultMaxDf (document frequency > 10 dropped from
    * intersections AND set sizes), per-doc set sizes (`cnt`) and the
    * pairwise intersections (`inter`). */
  private val RareShingleCtes: String =
    """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> length(x) > 0) AS l FROM documents),
      | pos AS (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i FROM toks WHERE len(l) >= 3),
      | sh0 AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle FROM pos),
      | rare AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 10),
      | sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
      | cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      | inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |            GROUP BY a.doc_id, b.doc_id),""".stripMargin

  /** The BM25 top-20 for Bm25Terms as (doc_id, `rank`): rank 1 is the
    * best score, doc_id breaks ties. */
  private def bm25Ranks(docs: DataFrame, rank: String): DataFrame =
    Retrieval.bm25TopK(docs, Bm25Terms, k = 20, maxDf = RetrievalMaxDf)
      .withColumn(rank,
        row_number().over(Window.orderBy(desc("score"), asc("doc_id"))).cast("long"))
      .select(col("doc_id"), col(rank))

  /** The TF-IDF top-20 for query 0 as (doc_id, r_tf), ranked like
    * [[bm25Ranks]]. */
  private def tfidfRanks(docs: DataFrame): DataFrame =
    Retrieval.tfidfQueryTopK(docs, queryId = 0L, k = 20, dim = 64)
      .withColumn("r_tf",
        row_number().over(Window.orderBy(desc("cos"), asc("doc_id"))).cast("long"))
      .select(col("doc_id"), col("r_tf"))

  /** Both ranker twins as rank relations `ra` (doc_id, r_bm) and `rb`
    * (doc_id, r_tf), each twin embedded verbatim. */
  private lazy val RankerRanksCtes: String =
    s"""WITH ra AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r_bm
       |            FROM ($bm25TwinSql) z1),
       | rb AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS r_tf
       |        FROM ($tfidfTopkTwin) z2),""".stripMargin

  /** Winnowing fingerprints (`f`: doc_id, fp): md5 3-shingles from
    * docs of >= 6 tokens, the rightmost min per 4-wide window. */
  private lazy val WinnowFpCtes: String =
    s"""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS l FROM documents),
       | g AS (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i FROM toks WHERE len(l) >= 6),
       | gr AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS gpos, md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]) AS m FROM g),
       | pk AS (SELECT doc_id, gpos, ${HexInt40("m")} * 1048576 + (1048575 - gpos) AS pk FROM gr),
       | sel AS (SELECT doc_id, gpos, min(pk) OVER (PARTITION BY doc_id ORDER BY gpos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel FROM pk),
       | f AS (SELECT DISTINCT doc_id, sel // 1048576 AS fp FROM sel WHERE gpos >= 3),""".stripMargin

  /** Distinct part names (id = min partkey, s = name) self-joined
    * within their 3-char prefix block, id_a < id_b; columns a.* / b.*. */
  private def blockedNamePairs(s: SparkSession, d: String): DataFrame = {
    val names = t(s, d).part.groupBy(col("p_name")).agg(min(col("p_partkey")).as("id"))
      .select(col("id"), col("p_name").as("s"), substring(col("p_name"), 1, 3).as("blk"))
    names.as("a").join(names.as("b"), col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
  }
}
