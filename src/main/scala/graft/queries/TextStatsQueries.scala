package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import graft.plans.Lineage.TruncateOps
import graft.QuerySpec.{Q, RowsOnly}
import graft.SparkEntry._
import graft.queries.Twins._

/** LLM-pipeline operators, part 3: text quality and statistics, language
  * models, BPE tokens, embedding statistics, packing, language id,
  * cleaning and fingerprints. */
object TextStatsQueries {
  val specs: Seq[QuerySpec] = Seq(
    Q("text_quality", (s, d) => TextQuality.qualityFeatures(t(s, d).documents).orderBy("doc_id"))(
      s"""WITH t AS (SELECT doc_id, text, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS tk
         |           FROM documents)
         |SELECT doc_id,
         | CAST(len(tk) AS BIGINT) AS n_tokens,
         | CAST(length(text) AS BIGINT) AS n_chars,
         | CAST(list_sum(list_transform(tk, x -> length(x))) AS BIGINT) / len(tk) AS avg_token_len,
         | (length(text) - length(regexp_replace(text, '$P', '', 'g'))) / length(text) AS punct_ratio,
         | (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text) AS digit_ratio,
         | len(list_filter(tk, x -> list_contains(['the','a','of','and','to','in','is','it'], lower(x)))) / len(tk) AS stopword_ratio
         |FROM t ORDER BY doc_id""".stripMargin),
    // Flesch ease + FK grade from three regexp counters (vowel-group
    // syllables); narrow, codegen'd, shuffle-free — extreme values in
    // either direction flag broken extraction before an LM pass runs
    Q("readability", (s, d) => TextQuality.readability(t(s, d).documents).orderBy("doc_id"))(
      // three exact regexp counts; each ratio one IEEE division, both
      // formulas left-associated identically, rounded 4 dp
      """WITH m AS (SELECT doc_id,
        |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sents,
        |  CAST(greatest(len(list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> length(x) > 0)), 1) AS BIGINT) AS n_words,
        |  CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS BIGINT) AS n_syll
        | FROM documents),
        | r AS (SELECT doc_id, n_sents, n_words, n_syll,
        |   CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE) AS wps,
        |   CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE) AS spw FROM m)
        |SELECT doc_id, n_sents, n_words, n_syll,
        | round(CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * wps - CAST(84.6 AS DOUBLE) * spw, 4) AS flesch_ease,
        | round(CAST(0.39 AS DOUBLE) * wps + CAST(11.8 AS DOUBLE) * spw - CAST(15.59 AS DOUBLE), 4) AS fk_grade
        |FROM r ORDER BY doc_id""".stripMargin),
    // global vocabulary collapse (TTR + hapax share over cleaned
    // words) — the template-spam signal adjacent-n-gram repetition
    // stats can't see; two key-local shuffles, per-doc state is the
    // doc's vocabulary
    Q("lexical_diversity", (s, d) =>
      TextQuality.lexicalDiversity(t(s, d).documents).orderBy("doc_id"))(
      s"""$WDoc,
         | c AS (SELECT doc_id, word, count(*) AS n FROM w GROUP BY 1, 2),
         | a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens, count(*) AS n_types,
         |       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax FROM c GROUP BY 1)
         |SELECT doc_id, n_tokens, n_types, n_hapax,
         | round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
         | round(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE), 6) AS hapax_ratio
         |FROM a ORDER BY doc_id""".stripMargin),
    // corpus routing: code-vs-prose surface signals (symbol density,
    // indent/semicolon line shares, reserved-word density) blended to
    // a fixed linear score — rounded before the is_code cut so both
    // engines threshold the identical number
    Q("code_detect", (s, d) => TextQuality.codeDetect(t(s, d).documents).orderBy("doc_id"))(
      // the keyword alternation interpolates the SAME Scala constant the
      // Spark side compiles (CodeKeywordRe), so the two engines cannot
      // drift on the reserved-word list; is_code compares the ROUNDED
      // score so the cut is over an identical literal on both engines
      s"""WITH m AS (SELECT doc_id,
         |  CAST(greatest(length(text), 1) AS BIGINT) AS n_chars,
         |  CAST(len(regexp_extract_all(text, '\\n')) + 1 AS BIGINT) AS n_lines,
         |  CAST(greatest(len(list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0)), 1) AS BIGINT) AS n_words,
         |  CAST(len(regexp_extract_all(text, '[{}()\\[\\];=<>]')) AS BIGINT) AS sym,
         |  CAST(len(regexp_extract_all(text, '(?m)^(  |\\t)')) AS BIGINT) AS indented,
         |  CAST(len(regexp_extract_all(text, '(?m);[ \\t]*$$')) AS BIGINT) AS semi_eol,
         |  CAST(len(regexp_extract_all(lower(text), '${TextQuality.CodeKeywordRe}')) AS BIGINT) AS kw
         | FROM documents),
         | r AS (SELECT doc_id,
         |   CAST(sym AS DOUBLE) / CAST(n_chars AS DOUBLE) AS sym_r,
         |   CAST(indented AS DOUBLE) / CAST(n_lines AS DOUBLE) AS indent_r,
         |   CAST(semi_eol AS DOUBLE) / CAST(n_lines AS DOUBLE) AS semi_r,
         |   CAST(kw AS DOUBLE) / CAST(n_words AS DOUBLE) AS kw_r FROM m),
         | sc AS (SELECT doc_id,
         |   round(sym_r, 6) AS sym_ratio, round(indent_r, 6) AS indent_ratio,
         |   round(semi_r, 6) AS semi_ratio, round(kw_r, 6) AS kw_ratio,
         |   round(CAST(2.0 AS DOUBLE) * sym_r + CAST(0.5 AS DOUBLE) * indent_r
         |     + CAST(1.0 AS DOUBLE) * semi_r + CAST(1.5 AS DOUBLE) * kw_r, 6) AS code_score
         |  FROM r)
         |SELECT doc_id, sym_ratio, indent_ratio, semi_ratio, kw_ratio, code_score,
         | code_score > CAST(0.12 AS DOUBLE) AS is_code
         |FROM sc ORDER BY doc_id""".stripMargin),
    // statistically-bound word pairs: top-100 adjacent-pair PMI with
    // a count floor; vocabulary-sized aggregates + TakeOrdered top-k
    Q("collocations", (s, d) => TextQuality.collocations(t(s, d).documents))(
      // PMI per pair: one mul + one div + one ln in identical
      // association; the (pmi desc, w1, w2) order is total so LIMIT
      // can't flap on ties
      s"""WITH toks AS (SELECT doc_id,
         |    $CleanTokensSql AS ws
         |  FROM documents),
         | uni AS (SELECT w AS word, count(*) AS cnt FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY 1),
         | tu AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM uni),
         | bgp AS (SELECT ws[i] AS w1, ws[i+1] AS w2
         |        FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM toks WHERE len(ws) >= 2)),
         | bg AS (SELECT w1, w2, count(*) AS c12 FROM bgp GROUP BY 1, 2),
         | tb AS (SELECT CAST(sum(c12) AS BIGINT) AS bt FROM bg),
         | j AS (SELECT bg.w1, bg.w2, bg.c12,
         |        CAST(bg.c12 AS DOUBLE) / CAST(tb.bt AS DOUBLE) AS p12,
         |        CAST(u1.cnt AS DOUBLE) / CAST(tu.t AS DOUBLE) AS p1,
         |        CAST(u2.cnt AS DOUBLE) / CAST(tu.t AS DOUBLE) AS p2
         |        FROM bg JOIN uni u1 ON bg.w1 = u1.word JOIN uni u2 ON bg.w2 = u2.word
         |        CROSS JOIN tu CROSS JOIN tb
         |        WHERE bg.c12 >= 5)
         |SELECT w1, w2, c12, round(ln(p12 / (p1 * p2)), 6) AS pmi
         |FROM j ORDER BY pmi DESC, w1, w2 LIMIT 100""".stripMargin),
    // Church-Gale burstiness: variance-to-mean of per-doc counts —
    // high-cf LOW-VMR words not on the stopword list are template
    // boilerplate leaking through cleaning
    Q("word_burstiness", (s, d) =>
      TextOps.wordBurstiness(t(s, d).documents).orderBy("word"))(
      // df/cf/Σc² exact; mean/variance/VMR the fixed three-op double
      // sequence (the rollingAnomaly device)
      s"""$WDoc,
         | c AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
         | a AS (SELECT word, count(*) AS df, CAST(sum(c) AS BIGINT) AS cf,
         |       CAST(sum(c * c) AS BIGINT) AS cf2 FROM c GROUP BY 1),
         | m AS (SELECT word, df, cf, cf2,
         |       CAST(cf AS DOUBLE) / CAST(df AS DOUBLE) AS mean_c FROM a WHERE cf >= 20),
         | v AS (SELECT word, df, cf, mean_c,
         |       (CAST(cf2 AS DOUBLE) - CAST(cf AS DOUBLE) * mean_c) / CAST(df AS DOUBLE) AS vr FROM m)
         |SELECT word, df, cf, round(mean_c, 6) AS mean_tf, round(vr / mean_c, 6) AS vmr
         |FROM v ORDER BY word""".stripMargin),
    // Heaps'-law vocabulary growth: cumulative (tokens, types) at
    // 50-doc checkpoints in doc_id order — a flattening curve means
    // the crawl is re-fetching known material; types are credited to
    // the FIRST doc containing them (exact, no sampling)
    Q("heaps_curve", (s, d) => {
      val dw = TextOps.docWords(t(s, d).documents)
      val tokensPerBucket = dw
        .groupBy((col("doc_id") / 50).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_tok"))
      val typesPerBucket = dw.groupBy(col("word")).agg(min(col("doc_id")).as("first_doc"))
        .groupBy((col("first_doc") / 50).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_new"))
      // cumulative token/type counts via the range-partitioned
      // prefix-sum — the bucket relation grows with corpus size
      // (N_docs/50 rows), so an unpartitioned ORDER BY window here is
      // exactly the single-task sort the TotalOrder module exists to
      // avoid
      graft.operators.TotalOrder.prefixSumAuto(
        tokensPerBucket.join(typesPerBucket, Seq("bucket"), "left")
          .select(col("bucket"), col("n_tok"), coalesce(col("n_new"), lit(0L)).as("n_new")),
        Seq(col("bucket")),
        Seq("n_tok" -> "cum_tokens", "n_new" -> "cum_types"))
        .select(col("bucket"), col("cum_tokens"), col("cum_types"))
        .orderBy("bucket")
    })(
      // first-doc-credited types, 50-doc buckets, running integer sums
      s"""$WDoc,
         | tb AS (SELECT doc_id // 50 AS bucket, count(*) AS n_tok FROM w GROUP BY 1),
         | fd AS (SELECT word, min(doc_id) AS first_doc FROM w GROUP BY 1),
         | nb AS (SELECT first_doc // 50 AS bucket, count(*) AS n_new FROM fd GROUP BY 1),
         | j AS (SELECT tb.bucket, tb.n_tok, coalesce(nb.n_new, 0) AS n_new
         |       FROM tb LEFT JOIN nb ON tb.bucket = nb.bucket)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         | CAST(sum(n_tok) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
         | CAST(sum(n_new) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
         |FROM j ORDER BY bucket""".stripMargin),
    // exact two-sample Kolmogorov-Smirnov D between the even- and
    // odd-doc length distributions: the max CDF gap computed as
    // max |c1·n2 − c2·n1| in pure integers, ONE division at the end —
    // the numeric-drift gate (corpus_drift covers token frequencies)
    Q("ks_drift", (s, d) => {
      val v = t(s, d).documents.select(col("n_chars").as("v"),
        (col("doc_id") % 2 === 0).as("g1"))
      val per = v.groupBy(col("v")).agg(
        sum(when(col("g1"), lit(1L)).otherwise(lit(0L))).as("a"),
        sum(when(!col("g1"), lit(1L)).otherwise(lit(0L))).as("b"))
      val tot = per.agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"))
      // the CDF prefix-sums run over the DISTINCT-value relation —
      // unbounded cardinality, so range-partitioned prefix-sum, not a
      // global ORDER BY window
      graft.operators.TotalOrder.prefixSumAuto(per, Seq(col("v")),
        Seq("a" -> "c1", "b" -> "c2"))
        .crossJoin(broadcast(tot))
        .select(col("n1"), col("n2"),
          abs(col("c1") * col("n2") - col("c2") * col("n1")).as("gap"))
        .groupBy(col("n1"), col("n2"))
        .agg(max(col("gap")).as("d_num"))
        .select(col("n1"), col("n2"), col("d_num"),
          round(col("d_num").cast("double") / (col("n1") * col("n2")).cast("double"), 6)
            .as("ks_d"))
    })(
      // max |c1·n2 − c2·n1| in pure BIGINTs, one rounded division
      """WITH v AS (SELECT n_chars AS v, doc_id % 2 = 0 AS g1 FROM documents),
        | per AS (SELECT v,
        |         CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |         CAST(sum(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS BIGINT) AS b
        |         FROM v GROUP BY 1),
        | tot AS (SELECT CAST(sum(a) AS BIGINT) AS n1, CAST(sum(b) AS BIGINT) AS n2 FROM per),
        | c AS (SELECT v,
        |       CAST(sum(a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1,
        |       CAST(sum(b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c2
        |       FROM per),
        | g AS (SELECT tot.n1, tot.n2, abs(c.c1 * tot.n2 - c.c2 * tot.n1) AS gap
        |       FROM c CROSS JOIN tot)
        |SELECT n1, n2, max(gap) AS d_num,
        | round(CAST(max(gap) AS DOUBLE) / CAST(n1 * n2 AS DOUBLE), 6) AS ks_d
        |FROM g GROUP BY n1, n2""".stripMargin),
    // within-doc chorus/footer CUT (repetition stats detect, this
    // removes): first occurrence per sentence, reassembled in order;
    // fixture plants a guaranteed repeat per doc
    Q("sentence_dedup_within", (s, d) => {
      val fx = t(s, d).documents.select(col("doc_id"),
        concat(col("text"), lit(" Again now. Again now. Doc tail.")).as("text"))
      TextQuality.sentenceDedupWithin(fx).orderBy("doc_id")
    })(
      // first-occurrence per (doc, sentence), ordered string_agg —
      // the same sentence CTEs as sentence_split, different stitch
      """WITH fx AS (SELECT doc_id, text || ' Again now. Again now. Doc tail.' AS text FROM documents),
        | q AS (SELECT doc_id, list_filter(list_transform(regexp_extract_all(text, '[^.!?]+[.!?]*'), x -> trim(x)), x -> length(x) > 0) AS l FROM fx),
        | u AS (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM q),
        | s AS (SELECT doc_id, CAST(i AS BIGINT) AS sent_idx, l[i] AS sentence FROM u),
        | r AS (SELECT doc_id, sent_idx, sentence,
        |       row_number() OVER (PARTITION BY doc_id, sentence ORDER BY sent_idx) AS rn FROM s),
        | k AS (SELECT doc_id, count(*) AS n_kept,
        |       string_agg(sentence, ' ' ORDER BY sent_idx) AS clean_text FROM r WHERE rn = 1 GROUP BY 1),
        | t AS (SELECT doc_id, count(*) AS n_sents FROM s GROUP BY 1)
        |SELECT t.doc_id, t.n_sents, k.n_kept, k.clean_text
        |FROM t JOIN k USING (doc_id) ORDER BY t.doc_id""".stripMargin),
    // register gate keyed to each doc's OWN language list — an en
    // list scoring a de page near 0 is the bug this dispatch avoids
    Q("stopword_coverage", (s, d) =>
      TextQuality.stopwordCoverage(t(s, d).documents).orderBy("lang")) {
      // per-lang CASE over the SAME Scala stopword lists, interpolated —
      // the two engines cannot drift on the word lists
      val langs = TextQuality.Stopwords.keys.toSeq.sorted
      val caseArms = langs.map { l =>
        val lst = TextQuality.Stopwords(l).map(w => s"'$w'").mkString("[", ",", "]")
        s"WHEN lang = '$l' THEN CAST(len(list_filter(tk, x -> list_contains($lst, lower(x)))) AS BIGINT)"
      }.mkString("\n        |       ")
      s"""WITH t AS (SELECT lang, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS tk FROM documents),
         | s AS (SELECT lang, CAST(len(tk) AS BIGINT) AS n_toks,
         |       CASE $caseArms END AS n_stop
         |       FROM t),
         | f AS (SELECT lang, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_toks,
         |       CAST(sum(n_stop) AS BIGINT) AS n_stop FROM s WHERE n_toks > 0 GROUP BY 1)
         |SELECT lang, n_docs, n_toks, n_stop,
         | round(CAST(n_stop AS DOUBLE) / CAST(n_toks AS DOUBLE), 6) AS coverage
         |FROM f ORDER BY lang""".stripMargin
    },
    // data discovery: which column pairs actually join — exact
    // distinct-set overlap coefficient per candidate pair
    Q("joinability_report", (s, d) => {
      val tt = t(s, d)
      Profiling.joinability(Seq(
        ("events.user_id~customer.c_custkey", tt.events, "user_id", tt.customer, "c_custkey"),
        ("lineitem.l_partkey~part.p_partkey", tt.lineitem, "l_partkey", tt.part, "p_partkey"),
        ("orders.o_custkey~customer.c_custkey", tt.orders, "o_custkey", tt.customer, "c_custkey"),
        ("orders.o_orderkey~part.p_partkey", tt.orders, "o_orderkey", tt.part, "p_partkey")))
        .orderBy("col_pair")
    })(Seq(
      ("events.user_id~customer.c_custkey", "events", "user_id", "customer", "c_custkey"),
      ("lineitem.l_partkey~part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
      ("orders.o_custkey~customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
      ("orders.o_orderkey~part.p_partkey", "orders", "o_orderkey", "part", "p_partkey"))
      .map { case (name, lt, lc, rt, rc) =>
        s"""(SELECT '$name' AS col_pair,
           |  count(a.v) AS n_left, count(b.v) AS n_right,
           |  CAST(sum(CASE WHEN a.v IS NOT NULL AND b.v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           |  round(CAST(sum(CASE WHEN a.v IS NOT NULL AND b.v IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(least(count(a.v), count(b.v)) AS DOUBLE), 6) AS overlap
           | FROM (SELECT DISTINCT CAST($lc AS VARCHAR) AS v FROM $lt) a
           | FULL JOIN (SELECT DISTINCT CAST($rc AS VARCHAR) AS v FROM $rt) b ON a.v = b.v)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_pair")),
    // hour-of-day load shape per event type with floor-ppm shares and
    // a deterministic peak flag
    Q("seasonality_profile", (s, d) => {
      t(s, d).events
        .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n"))
        .withColumn("total", sum(col("n")).over(Window.partitionBy(col("event_type"))))
        .withColumn("share_ppm", floor(col("n") * lit(1000000L) / col("total")))
        .withColumn("is_peak", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(desc("n"), col("hr"))) === 1)
        .select(col("event_type"), col("hr"), col("n"), col("share_ppm"), col("is_peak"))
        .orderBy("event_type", "hr")
    })(
      """WITH h AS (SELECT event_type, CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
        |           count(*) AS n FROM events GROUP BY 1, 2),
        | w AS (SELECT event_type, hr, n,
        |       CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total,
        |       row_number() OVER (PARTITION BY event_type ORDER BY n DESC, hr) AS rk FROM h)
        |SELECT event_type, hr, n,
        | CAST(floor(n * 1000000 / total) AS BIGINT) AS share_ppm, rk = 1 AS is_peak
        |FROM w ORDER BY event_type, hr""".stripMargin),
    // per-doc top-3 TF-IDF keywords through the GroupedTopK physical
    // operator — bounded per-group heaps, never a per-doc sort
    Q("doc_keywords", (s, d) => {
      val docs = t(s, d).documents
      val tf = Retrieval.docTermFreqs(docs)
      val dfr = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val wt = tf.join(dfr, "word").crossJoin(broadcast(nd))
        .select(col("doc_id"), col("word"),
          round(col("tf").cast("double")
            * log(col("n_docs").cast("double") / col("df").cast("double")), 6).as("w"))
      graft.plans.GroupedTopK.topKPerKey(wt, Seq("doc_id"),
          Seq(("w", true), ("word", false)), k = 3)
        .orderBy(col("doc_id"), desc("w"), asc("word"))
    })(
      // tf·idf with idf = ln(N/df), one division + one ln + one mul;
      // row_number top-3 mirrors the GroupedTopK heap semantics
      s"""$WDoc,
         | tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
         | dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         | nd AS (SELECT count(*) AS n_docs FROM documents),
         | wt AS (SELECT tf.doc_id, tf.word,
         |   round(CAST(tf.tf AS DOUBLE) * ln(CAST(nd.n_docs AS DOUBLE) / CAST(dfq.df AS DOUBLE)), 6) AS w
         |   FROM tf JOIN dfq USING (word) CROSS JOIN nd),
         | r AS (SELECT doc_id, word, w,
         |       row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, word) AS rn FROM wt)
         |SELECT doc_id, word, w FROM r WHERE rn <= 3 ORDER BY doc_id, w DESC, word""".stripMargin),
    // structural QA: dominant Unicode script vs the lang label — a
    // CJK-dominant doc labeled 'en' is a mislabel or a mojibake feed
    Q("script_lang_matrix", (s, d) => {
      val docs = t(s, d).documents
      TextQuality.scriptProfile(docs).select(col("doc_id"), col("dominant"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"), col("dominant")).agg(count(lit(1)).as("n"))
        .orderBy("lang", "dominant")
    }) {
      // the script census on RAW documents (no fixture stitching),
      // rolled up to the (label, dominant-script) grain
      def c(cls: String) = s"CAST(length(text) - length(regexp_replace(text, '$cls', '', 'g')) AS BIGINT)"
      s"""WITH p AS (SELECT doc_id,
         |  ${c("[A-Za-z]")} AS n_latin,
         |  ${c("[\\x{0400}-\\x{04FF}]")} AS n_cyrillic,
         |  ${c("[\\x{4E00}-\\x{9FFF}]")} AS n_cjk FROM documents),
         | v AS (SELECT doc_id,
         |  CASE WHEN n_latin + n_cyrillic + n_cjk = 0 THEN 'none'
         |       WHEN n_cjk >= n_latin AND n_cjk >= n_cyrillic THEN 'cjk'
         |       WHEN n_cyrillic >= n_latin THEN 'cyrillic'
         |       ELSE 'latin' END AS dominant FROM p)
         |SELECT d.lang, v.dominant, count(*) AS n
         |FROM v JOIN documents d USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    // cross-source score calibration: quantile normalization — each
    // doc's per-source rank mapped to the GLOBAL score at the same
    // quantile, in PURE integer rank arithmetic (no float percentile)
    Q("score_quantile_norm", (s, d) =>
      Corpus.quantileNormalize(t(s, d).documents).orderBy("doc_id"))(
      // rt = (rs−1)(N−1) // (ns−1) + 1 in pure BIGINT arithmetic; the
      // normalized score is a real value picked by global rank
      """WITH b AS (SELECT doc_id, source AS grp, CAST(n_chars AS BIGINT) AS score FROM documents),
        | s AS (SELECT doc_id, grp, score,
        |       CAST(row_number() OVER (PARTITION BY grp ORDER BY score, doc_id) AS BIGINT) AS rs,
        |       count(*) OVER (PARTITION BY grp) AS ns FROM b),
        | g AS (SELECT CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT) AS rt,
        |       score AS norm_score FROM b),
        | n AS (SELECT count(*) AS ng FROM b),
        | t AS (SELECT s.doc_id, s.grp, s.score,
        |       CASE WHEN s.ns = 1 THEN 1
        |            ELSE ((s.rs - 1) * (n.ng - 1)) // (s.ns - 1) + 1 END AS rt
        |       FROM s CROSS JOIN n)
        |SELECT t.doc_id, t.grp AS source, t.score, g.norm_score
        |FROM t JOIN g ON g.rt = t.rt ORDER BY t.doc_id""".stripMargin),
    // the confusion matrix reduced to decision numbers: per-language
    // precision/recall/F1 (F1 from the ROUNDED p and r, mirrored)
    Q("lang_id_metrics", (s, d) => {
      val docs = t(s, d).documents
      val cm = TextQuality.langIdNgram(docs).select(col("doc_id"), col("pred_lang"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .truncateLineage
      val byLang = cm.groupBy(col("lang")).agg(count(lit(1)).as("n_actual"),
        sum(when(col("pred_lang") === col("lang"), lit(1L)).otherwise(lit(0L))).as("tp"))
      val byPred = cm.groupBy(col("pred_lang").as("lang")).agg(count(lit(1)).as("n_pred"))
      byLang.join(byPred, Seq("lang"), "left")
        .select(col("lang"), col("n_actual"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"), col("tp"))
        .withColumn("precision", when(col("n_pred") > 0,
          round(col("tp").cast("double") / col("n_pred").cast("double"), 6)))
        .withColumn("recall",
          round(col("tp").cast("double") / col("n_actual").cast("double"), 6))
        .withColumn("f1", when(col("precision").isNotNull
            && col("precision") + col("recall") > 0,
          round(lit(2.0) * col("precision") * col("recall")
            / (col("precision") + col("recall")), 6)))
        .orderBy("lang")
    })(
      // confusion rolled to per-language precision/recall/F1; F1 from
      // the rounded p and r exactly as the Spark side computes it
      s"""WITH cm AS (SELECT d.lang, p.pred_lang
         |            FROM ($langIdNgramTwin) p JOIN documents d USING (doc_id)),
         | ba AS (SELECT lang, count(*) AS n_actual,
         |        CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS tp
         |        FROM cm GROUP BY 1),
         | bp AS (SELECT pred_lang AS lang, count(*) AS n_pred FROM cm GROUP BY 1),
         | j AS (SELECT ba.lang, ba.n_actual, coalesce(bp.n_pred, 0) AS n_pred, ba.tp
         |       FROM ba LEFT JOIN bp ON ba.lang = bp.lang),
         | pr AS (SELECT lang, n_actual, n_pred, tp,
         |        CASE WHEN n_pred > 0
         |             THEN round(CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE), 6) END AS precision,
         |        round(CAST(tp AS DOUBLE) / CAST(n_actual AS DOUBLE), 6) AS recall
         |        FROM j)
         |SELECT lang, n_actual, n_pred, tp, precision, recall,
         | CASE WHEN precision IS NOT NULL AND precision + recall > 0
         |      THEN round(CAST(2.0 AS DOUBLE) * precision * recall / (precision + recall), 6) END AS f1
         |FROM pr ORDER BY lang""".stripMargin),
    // RM3-style pseudo-relevance feedback: expansion terms mined from
    // the top-10 BM25 hits, ranked by feedback-tf · ln(N/df), query
    // terms excluded — the classic recall move after a first pass
    Q("rm3_expansion", (s, d) => {
      val docs = t(s, d).documents
      val fb = Retrieval.bm25TopK(docs, Bm25Terms, k = 10, maxDf = RetrievalMaxDf)
        .select(col("doc_id"))
      val tf = Retrieval.docTermFreqs(docs)
      val dfr = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      tf.join(broadcast(fb), "doc_id")
        .groupBy(col("word")).agg(sum(col("tf")).as("tf_fb"))
        .where(!col("word").isin(Bm25Terms: _*))
        .join(dfr, "word").crossJoin(broadcast(nd))
        .select(col("word"), col("tf_fb"), col("df"),
          round(col("tf_fb").cast("double")
            * log(col("n_docs").cast("double") / col("df").cast("double")), 6).as("w"))
        .orderBy(desc("w"), col("word"))
        .limit(10)
    })(
      // the bm25 twin (LIMIT 10 re-applied) feeds the feedback set;
      // expansion weight = feedback-tf · ln(N/df), query terms excluded
      s"""WITH fb AS (SELECT doc_id FROM ($bm25TwinSql) z ORDER BY score DESC, doc_id LIMIT 10),
         | w0 AS (SELECT doc_id, lower(regexp_replace(t.tok, '$P', '', 'g')) AS word
         |        FROM (SELECT doc_id, unnest(string_split_regex(text, '[ \\t\\n\\f\\r]+')) AS tok FROM documents) t),
         | w AS (SELECT doc_id, word FROM w0 WHERE length(word) > 0),
         | tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
         | dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         | nd AS (SELECT count(*) AS n_docs FROM documents),
         | fbt AS (SELECT tf.word, CAST(sum(tf.tf) AS BIGINT) AS tf_fb
         |         FROM tf JOIN fb USING (doc_id)
         |         WHERE tf.word NOT IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
         |         GROUP BY 1)
         |SELECT fbt.word, fbt.tf_fb, dfq.df,
         | round(CAST(fbt.tf_fb AS DOUBLE) * ln(CAST(nd.n_docs AS DOUBLE) / CAST(dfq.df AS DOUBLE)), 6) AS w
         |FROM fbt JOIN dfq USING (word) CROSS JOIN nd
         |ORDER BY w DESC, fbt.word LIMIT 10""".stripMargin),
    // classifier-quality report: n-gram language ID vs the labeled
    // lang column — the confusion matrix that says whether the router
    // can be trusted per language
    Q("lang_id_confusion", (s, d) => {
      val docs = t(s, d).documents
      TextQuality.langIdNgram(docs).select(col("doc_id"), col("pred_lang"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")
    })(
      // the twin verbatim as a subquery, rolled up to the (label,
      // prediction) confusion grain
      s"""SELECT d.lang, p.pred_lang, count(*) AS n
         |FROM ($langIdNgramTwin) p JOIN documents d USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // ops report: exact duplicate pressure per source (sha256 groups)
    // — the number that decides which feed pays for better dedup
    Q("dup_rate_by_source", (s, d) =>
      t(s, d).documents.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(sha2(col("text"), 256)).as("n_unique"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          floor((col("n_docs") - col("n_unique")) * lit(1000000L) / col("n_docs"))
            .as("dup_ppm"))
        .orderBy("source"))(
      """SELECT source, count(*) AS n_docs, count(DISTINCT sha256(text)) AS n_unique,
        | CAST(floor((count(*) - count(DISTINCT sha256(text))) * 1000000 / count(*)) AS BIGINT) AS dup_ppm
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // content-keyed train/val/test assignment — split follows the
    // TEXT hash, so re-crawls/re-partitions can never leak val→train
    Q("dataset_split", (s, d) =>
      Corpus.datasetSplit(t(s, d).documents)
        .select(col("doc_id"), col("lang"), col("split")).orderBy("doc_id"))(
      s"""SELECT doc_id, lang,
         | CASE WHEN $HashPermille < 800 THEN 'train'
         |      WHEN $HashPermille < 900 THEN 'val' ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin),
    // the QA step after the split: held-out docs sharing >= 2 distinct
    // trigram shingles with ANY train doc — near-dups straddle a
    // content-hash boundary even though exact dups cannot
    Q("split_leakage_audit", (s, d) =>
      Corpus.splitLeakageAudit(t(s, d).documents).orderBy("doc_id"))(
      // decontaminate's shingle-overlap machinery turned inward: the
      // held-out splits audited against the train shingle set; the twin
      // counts TEXT shingles where Spark counts xxhash64 ids — identical
      // short of a 64-bit collision (same budget as every shingle twin)
      s"""WITH sp AS (SELECT doc_id, text,
         |   CASE WHEN $HashPermille < 800 THEN 'train'
         |        WHEN $HashPermille < 900 THEN 'val' ELSE 'test' END AS split
         |  FROM documents),
         | toks AS (SELECT doc_id, split, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS l FROM sp),
         | pos AS (SELECT doc_id, split, l, unnest(generate_series(1, len(l) - 2)) AS i FROM toks WHERE len(l) >= 3),
         | sh AS (SELECT DISTINCT doc_id, split, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle FROM pos),
         | tsh AS (SELECT DISTINCT shingle FROM sh WHERE split = 'train'),
         | ov AS (SELECT s.doc_id, count(*) AS n_train_overlap FROM sh s JOIN tsh USING (shingle)
         |        WHERE s.split <> 'train' GROUP BY 1)
         |SELECT e.doc_id, e.split, coalesce(ov.n_train_overlap, 0) AS n_train_overlap,
         | coalesce(ov.n_train_overlap, 0) >= 2 AS leaked
         |FROM sp e LEFT JOIN ov USING (doc_id) WHERE e.split <> 'train'
         |ORDER BY e.doc_id""".stripMargin),
    // skyline curation: docs on the (size ↑, vocabulary-richness ↑)
    // Pareto frontier via the sample-prune-exact ladder — the
    // quadratic dominance check runs only on the undominated band,
    // never the corpus
    Q("pareto_curation", (s, d) => {
      val ld = TextQuality.lexicalDiversity(t(s, d).documents)
        .select(col("doc_id"), col("n_tokens"), col("ttr"))
      Corpus.paretoFrontier(ld, Seq("n_tokens" -> true, "ttr" -> true)).orderBy("doc_id")
    })(
      // the NOT EXISTS spelling of Pareto dominance — the oracle runs
      // the O(n²) definition the Spark ladder avoids; comparisons are on
      // the 6-dp-rounded ttr both sides
      s"""$WDoc,
         | c AS (SELECT doc_id, word, count(*) AS n FROM w GROUP BY 1, 2),
         | a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens, count(*) AS n_types FROM c GROUP BY 1),
         | ld AS (SELECT doc_id, n_tokens,
         |        round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr FROM a)
         |SELECT p.doc_id, p.n_tokens, p.ttr FROM ld p
         |WHERE NOT EXISTS (SELECT 1 FROM ld q
         |  WHERE q.n_tokens >= p.n_tokens AND q.ttr >= p.ttr
         |    AND (q.n_tokens > p.n_tokens OR q.ttr > p.ttr))
         |ORDER BY p.doc_id""".stripMargin),
    // perplexity-proxy scoring: per-doc sum of ln p(word) under the
    // corpus's own unigram distribution — per-token logs rounded and
    // DECIMAL-summed so accumulation order cannot wiggle the hash
    Q("unigram_logprob", (s, d) =>
      TextQuality.unigramLogProb(t(s, d).documents).orderBy("doc_id"))(
      s"""$WDoc,
         | c AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
         | t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
         | lp AS (SELECT w.doc_id,
         |   CAST(round(ln(CAST(c.cnt AS DOUBLE) / t.total), 12) AS DECIMAL(28,12)) AS l
         |   FROM w JOIN c USING (word) CROSS JOIN t),
         | s AS (SELECT doc_id, count(*) AS n_tokens, sum(l) AS sl FROM lp GROUP BY 1)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       round(CAST(sl AS DOUBLE), 6) AS logprob,
         |       round(CAST(sl AS DOUBLE) / n_tokens, 6) AS avg_logprob
         |FROM s ORDER BY doc_id""".stripMargin),
    // next rung up the perplexity ladder: ln p(cur|prev) under the
    // corpus's own min-count-pruned bigram model with stupid backoff
    // (alpha * unigram) for pruned pairs — same rounded-log DECIMAL
    // determinism as unigram_logprob
    Q("bigram_logprob", (s, d) =>
      TextQuality.bigramLogProb(t(s, d).documents).orderBy("doc_id"))(
      // ordered cleaned-word lists (the fingerprint_ref device) feed
      // adjacent-pair bigrams via 1-based list indexing — unnest order
      // is never relied on for sequence structure. Per-pair logs use
      // the identical one-expression association as the Spark side,
      // rounded 12 dp and DECIMAL-summed.
      s"""$BigramCtes
         |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
         |       round(CAST(sl AS DOUBLE), 6) AS logprob,
         |       round(CAST(sl AS DOUBLE) / n_bigrams, 6) AS avg_logprob
         |FROM s ORDER BY doc_id""".stripMargin),
    // eval-set seeding: the k best LM-scored exemplars PER LANGUAGE,
    // picked by the engine's own GroupedTopK physical operator
    // (bounded per-group heaps) over the bigram model's average —
    // composing the custom planner strategy with the LM ladder
    Q("best_exemplars", (s, d) => {
      val scored = TextQuality.bigramLogProb(t(s, d).documents)
        .join(t(s, d).documents.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("lang"), col("doc_id"), col("avg_logprob"))
      graft.plans.GroupedTopK.topKPerKey(scored, Seq("lang"),
          Seq(("avg_logprob", true), ("doc_id", false)), k = 3)
        .orderBy(col("lang"), desc("avg_logprob"), asc("doc_id"))
    })(
      s"""$BigramCtes,
         | scd AS (SELECT d.lang, s.doc_id, round(CAST(s.sl AS DOUBLE) / s.n_bigrams, 6) AS avg_logprob
         |         FROM documents d JOIN s ON d.doc_id = s.doc_id),
         | rk AS (SELECT lang, doc_id, avg_logprob,
         |        row_number() OVER (PARTITION BY lang ORDER BY avg_logprob DESC, doc_id) AS rn FROM scd)
         |SELECT lang, doc_id, avg_logprob FROM rk WHERE rn <= 3
         |ORDER BY lang, avg_logprob DESC, doc_id""".stripMargin),
    // top of the n-gram ladder: trigram model with two-level stupid
    // backoff (tri → bigram → unigram), pruned numerators, true-count
    // denominators
    Q("trigram_logprob", (s, d) =>
      TextQuality.trigramLogProb(t(s, d).documents).orderBy("doc_id"))(
      // trigram twin: same ordered-list CTEs; backoff CASE arms match
      // the Spark when-chain's operand association exactly (0.4 * 0.4
      // folds to the same IEEE double in both engines)
      s"""WITH toks AS (SELECT doc_id,
         |    $CleanTokensSql AS ws
         |  FROM documents),
         | uni AS (SELECT w AS word, count(*) AS cnt FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY 1),
         | tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM uni),
         | bg AS (SELECT ws[i] AS b1, ws[i+1] AS b2
         |        FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM toks WHERE len(ws) >= 2)),
         | bi AS (SELECT b1, b2, count(*) AS bc FROM bg GROUP BY 1, 2),
         | tg AS (SELECT doc_id, ws[i-1] AS p2, ws[i] AS p1, ws[i+1] AS cur
         |        FROM (SELECT doc_id, ws, unnest(range(2, len(ws))) AS i FROM toks WHERE len(ws) >= 3)),
         | tri AS (SELECT p2, p1, cur, count(*) AS tc FROM tg GROUP BY 1, 2, 3 HAVING count(*) >= 2),
         | sc AS (SELECT tg.doc_id,
         |     CAST(round(CASE
         |       WHEN t3.tc IS NOT NULL THEN ln(CAST(t3.tc AS DOUBLE) / CAST(cx.bc AS DOUBLE))
         |       WHEN bm.bc IS NOT NULL THEN ln(0.4 * CAST(bm.bc AS DOUBLE) / CAST(up.cnt AS DOUBLE))
         |       ELSE ln(0.4 * 0.4 * CAST(uc.cnt AS DOUBLE) / t.total) END, 12) AS DECIMAL(28,12)) AS l
         |   FROM tg
         |   LEFT JOIN tri t3 ON tg.p2 = t3.p2 AND tg.p1 = t3.p1 AND tg.cur = t3.cur
         |   LEFT JOIN (SELECT b1, b2, bc FROM bi WHERE bc >= 2) bm ON tg.p1 = bm.b1 AND tg.cur = bm.b2
         |   JOIN bi cx ON tg.p2 = cx.b1 AND tg.p1 = cx.b2
         |   JOIN uni up ON tg.p1 = up.word
         |   JOIN uni uc ON tg.cur = uc.word
         |   CROSS JOIN tot t),
         | s AS (SELECT doc_id, count(*) AS n_trigrams, sum(l) AS sl FROM sc GROUP BY 1)
         |SELECT doc_id, CAST(n_trigrams AS BIGINT) AS n_trigrams,
         |       round(CAST(sl AS DOUBLE), 6) AS logprob,
         |       round(CAST(sl AS DOUBLE) / n_trigrams, 6) AS avg_logprob
         |FROM s ORDER BY doc_id""".stripMargin),
    // MODEL-based quality cut: the bigram LM's per-doc avg log-prob
    // drives the histogram-two-pass quantile filter (keep the top
    // half per language) — perplexity filtering as a real corpus
    // pipeline stage, not just a score column
    Q("perplexity_filter", (s, d) => {
      val tt = t(s, d)
      val scored = bigramScored(tt.documents)
      Corpus.quantileFilterByScore(scored, keep = 0.5,
        sizeHint = Some(tt.rowCountStat("documents"))).orderBy("doc_id")
    })(
      // model-based quality cut: the bigram chain's per-doc average
      // feeds the naive percent_rank twin of the histogram filter —
      // proven equal for quality_filter, reproven here on the LM score
      s"""$BigramRankCtes
         |SELECT doc_id, lang, score, pr FROM r WHERE pr >= 0.5 ORDER BY doc_id""".stripMargin),
    // the CCNet split (Wenzek et al.): per-language LM-perplexity
    // TERCILES — head/middle/tail buckets every row, where the filter
    // above keeps only the top half. Value-based buckets off the same
    // percent-rank-by-value relation, so ties stay together and the
    // DuckDB percent_rank twin hash-matches
    Q("perplexity_buckets", (s, d) => {
      val tt = t(s, d)
      val scored = bigramScored(tt.documents)
      Corpus.scoreBuckets(scored, nBuckets = 3,
        sizeHint = Some(tt.rowCountStat("documents"))).orderBy("doc_id")
    })(
      // the tercile twin: the same bigram chain, bucket from the naive
      // percent_rank — floor(pr*3) is one IEEE multiply+floor on both
      // engines, clamped at 2 for pr = 1.0
      s"""$BigramRankCtes
         |SELECT doc_id, lang, score, pr,
         | least(2, CAST(floor(pr * 3) AS BIGINT)) AS bucket
         |FROM r ORDER BY doc_id""".stripMargin),
    // the crawl-authority prior wired into curation: the engine's own
    // extracted link graph → PageRank → per-language quantile cut —
    // link authority as a corpus quality signal, through the same
    // histogram-two-pass seam the LM perplexity cut uses
    Q("authority_filter", (s, d) => {
      val tt = t(s, d)
      val docs = tt.documents
      val rank = Graph.pageRank(Html.outlinks(Html.pageFromDocs(docs)))
      val scored = docs.select(col("doc_id"), col("lang"))
        .join(rank.select(col("node").as("doc_id"), col("pr").as("score")), Seq("doc_id"))
      Corpus.quantileFilterByScore(scored, keep = 0.5,
        sizeHint = Some(tt.rowCountStat("documents"))).orderBy("doc_id")
    })(
      // authority twin: the unrolled PageRank CTE chain over the
      // closed-form crawl edges feeds the naive percent_rank filter —
      // the same composition proven piecewise by crawl_rank and
      // perplexity_filter
      s"""${pageRankCtes(CrawlEdgesCte)},
         | scd AS (SELECT d.doc_id, d.lang, round(r.rank, 8) AS score
         |         FROM documents d JOIN r5 r ON d.doc_id = r.node),
         | rk AS (SELECT doc_id, lang, score,
         |         percent_rank() OVER (PARTITION BY lang ORDER BY score) AS pr FROM scd)
         |SELECT doc_id, lang, score, pr FROM rk WHERE pr >= 0.5 ORDER BY doc_id""".stripMargin),
    Q("token_count", (s, d) => TextQuality.tokenCounts(t(s, d).documents).orderBy("doc_id"))(
      """SELECT doc_id,
        | CAST(len(list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> length(x) > 0)) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_ish_tokens,
        | CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_llm_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),
    // real subword tokenization under the frozen BPE merge artifact
    // (Bpe.DefaultMerges, learned once from the corpus — tokenizers
    // ship as fixed files): corpus-wide token histogram, tokenizing
    // DISTINCT words once and joining frequencies back
    Q("bpe_tokens", (s, d) =>
      Bpe.tokenHistogram(t(s, d).documents, Bpe.DefaultMerges,
        alphabet = Some(Bpe.DefaultAlphabet)).orderBy("token"))(
      // the recursive CTE replays the applier's one-splice-per-iteration
      // best-rank merges per DISTINCT word (BpeApplyCte), then weights
      // tokens by word frequency — cross-engine hash equality proves the
      // tokenizer itself
      s"""WITH RECURSIVE
         | wc AS (SELECT lower(t.tok) AS word, count(*) AS cnt
         |        FROM (SELECT unnest(string_split_regex(text, '[ \\t\\n\\f\\r]+')) AS tok FROM documents) t
         |        WHERE length(t.tok) > 0 GROUP BY 1),
         |$BpeApplyCte
         |SELECT tok AS token, CAST(sum(cnt) AS BIGINT) AS n
         |FROM (SELECT word, unnest(toks) AS tok FROM fin) f JOIN wc USING (word)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // the packing-budget column: per-doc BPE vs whitespace token counts
    Q("bpe_doc_tokens", (s, d) =>
      Bpe.docTokenCounts(t(s, d).documents, Bpe.DefaultMerges,
        alphabet = Some(Bpe.DefaultAlphabet)).orderBy("doc_id"))(
      s"""WITH RECURSIVE
         | dw AS (SELECT doc_id, lower(t.tok) AS word
         |        FROM (SELECT doc_id, unnest(string_split_regex(text, '[ \\t\\n\\f\\r]+')) AS tok FROM documents) t
         |        WHERE length(t.tok) > 0),
         | wc AS (SELECT word, count(*) AS cnt FROM dw GROUP BY 1),
         |$BpeApplyCte
         |SELECT doc_id, CAST(sum(len(toks)) AS BIGINT) AS bpe_tokens,
         |       CAST(count(*) AS BIGINT) AS ws_tokens
         |FROM dw JOIN fin USING (word) GROUP BY 1 ORDER BY 1""".stripMargin),
    // context-limit enforcement with EXACT accounting: each doc's
    // longest whole-word prefix fitting a 48-BPE-token budget (binding
    // for most docs at sf0.01, not all — both branches live), with
    // the kept counts and the truncation flag
    Q("token_budget_truncate", (s, d) =>
      Bpe.truncateToTokenBudget(t(s, d).documents, Bpe.DefaultMerges, budget = 48L,
        alphabet = Some(Bpe.DefaultAlphabet)).orderBy("doc_id"))(
      // positional word relation + the recursive applier, then the same
      // prefix-closed keep predicate as one window + filter; a doc
      // whose first word overflows LEFT-JOINs to an empty prefix
      s"""WITH RECURSIVE
         | tl AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS l FROM documents),
         | dwp AS (SELECT doc_id, i AS pos, l[i] AS tok, lower(l[i]) AS word
         |         FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM tl) z),
         | wc AS (SELECT word, count(*) AS cnt FROM dwp GROUP BY 1),
         |$BpeApplyCte,
         | jo AS (SELECT dwp.doc_id, dwp.pos, dwp.tok, CAST(len(f.toks) AS BIGINT) AS n_toks
         |        FROM dwp JOIN fin f USING (word)),
         | cb AS (SELECT doc_id, pos, tok, n_toks,
         |    coalesce(sum(n_toks) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM jo),
         | tot AS (SELECT doc_id, CAST(sum(n_toks) AS BIGINT) AS bpe_total FROM jo GROUP BY 1),
         | kept AS (SELECT doc_id, count(*) AS ws_tokens_kept, CAST(sum(n_toks) AS BIGINT) AS bpe_tokens_kept,
         |    string_agg(tok, ' ' ORDER BY pos) AS prefix
         |   FROM cb WHERE cum_before + n_toks <= 48 GROUP BY doc_id)
         |SELECT tot.doc_id, coalesce(kept.ws_tokens_kept, 0) AS ws_tokens_kept,
         | coalesce(kept.bpe_tokens_kept, 0) AS bpe_tokens_kept,
         | tot.bpe_total > 48 AS truncated,
         | coalesce(kept.prefix, '') AS prefix
         |FROM tot LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin),
    // the artifact's SHAPE, not just its counts: corpus-weighted
    // subword-length histogram (occurrences weighted by word
    // frequency, types over distinct token strings) over the SAME
    // composite corpus the artifact was learned from (tools.LearnBpe
    // — documents alone is a closed 31-word vocab where every word
    // saturates to one token and the histogram is just word lengths).
    // A healthy learned vocabulary puts mass at 2-6 chars; a
    // histogram stuck at 1 means the merges never fire — the
    // one-glance realism check on a relearned artifact. Applier still
    // runs on DISTINCT words only; the output is token-length-sized
    Q("bpe_token_lengths", (s, d) => {
      val tb = t(s, d)
      val corpus = tb.documents.select(col("text"))
        .unionByName(tb.part.select(
          concat_ws(" ", col("p_name"), col("p_type"), col("p_brand")).as("text")))
        .unionByName(tb.customer.select(col("c_name").as("text")))
        .unionByName(tb.supplier.select(col("s_name").as("text")))
        .unionByName(tb.nation.select(col("n_name").as("text")))
        .unionByName(tb.region.select(col("r_name").as("text")))
        .unionByName(tb.events.select(
          concat_ws(" ", col("event_type"), col("props")).as("text")))
      val words = corpus
        .select(explode(TextOps.rawTokens(col("text"))).as("tok"))
        .select(lower(col("tok")).as("word"))
      val wc = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      wc.select(col("cnt"),
          explode(Bpe.tokens(col("word"), Bpe.DefaultMerges,
            Some(Bpe.DefaultAlphabet))).as("tok"))
        .groupBy(length(col("tok")).cast("long").as("tok_len"))
        .agg(sum(col("cnt")).as("n_occurrences"),
          count_distinct(col("tok")).as("n_types"))
        .orderBy("tok_len")
    })(
      // same recursive applier, histogram over the unnested terminal
      // tokens of the LearnBpe composite corpus — occurrences via the
      // word-frequency join, types via count(DISTINCT token string)
      s"""WITH RECURSIVE
         | corpus AS (SELECT text FROM documents
         |   UNION ALL SELECT p_name || ' ' || p_type || ' ' || p_brand FROM part
         |   UNION ALL SELECT c_name FROM customer
         |   UNION ALL SELECT s_name FROM supplier
         |   UNION ALL SELECT n_name FROM nation
         |   UNION ALL SELECT r_name FROM region
         |   UNION ALL SELECT event_type || ' ' || props FROM events),
         | dw AS (SELECT lower(t.tok) AS word
         |        FROM (SELECT unnest(string_split_regex(text, '[ \\t\\n\\f\\r]+')) AS tok FROM corpus) t
         |        WHERE length(t.tok) > 0),
         | wc AS (SELECT word, count(*) AS cnt FROM dw GROUP BY 1),
         |$BpeApplyCte,
         | tl AS (SELECT wc.cnt, unnest(f.toks) AS tok FROM wc JOIN fin f USING (word))
         |SELECT CAST(length(tok) AS BIGINT) AS tok_len,
         | CAST(sum(cnt) AS BIGINT) AS n_occurrences,
         | CAST(count(DISTINCT tok) AS BIGINT) AS n_types
         |FROM tl GROUP BY 1 ORDER BY 1""".stripMargin),
    // tokenizer COVERAGE audit: per-language byte-fallback share —
    // the zh documents sit entirely outside the learned 41-symbol
    // alphabet and take the <0xHH> path, en/de stay in-vocabulary;
    // a nonzero oov_ppm on a language the tokenizer claims to cover
    // is the one-glance artifact-mismatch alarm. Applier on DISTINCT
    // words only, occurrence-weighted by the doc join
    Q("bpe_oov_rate", (s, d) => {
      val docs = t(s, d).documents
      // the raw corpus is alphabet-pure (zero fallback everywhere —
      // hash-proven), so zh docs get one planted CJK token, stitched
      // identically by both engines from the same constant
      val stitched = docs.select(col("doc_id"),
        when(col("lang") === "zh", concat(col("text"), lit(" " + OovFixtureTok)))
          .otherwise(col("text")).as("text"))
      val dw = stitched.select(col("doc_id"),
          explode(TextOps.rawTokens(col("text"))).as("tok"))
        .select(col("doc_id"), lower(col("tok")).as("word"))
      val wt = dw.select(col("word")).distinct()
        .select(col("word"),
          Bpe.tokens(col("word"), Bpe.DefaultMerges, Some(Bpe.DefaultAlphabet)).as("toks"))
        .select(col("word"), size(col("toks")).cast("long").as("n_toks"),
          size(filter(col("toks"), t => t.rlike("^<0x[0-9a-f]{2}>$")))
            .cast("long").as("n_oov"))
      dw.join(wt, "word")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(sum(col("n_toks")).as("bpe_tokens"), sum(col("n_oov")).as("oov_tokens"))
        .select(col("lang"), col("bpe_tokens"), col("oov_tokens"),
          floor(col("oov_tokens") * lit(1000000L) / col("bpe_tokens")).as("oov_ppm"))
        .orderBy("lang")
    })(
      // the byte-fallback census over the CJK-stitched corpus: the
      // byte-faithful applier base expands the planted OOV chars to
      // their <0xHH> marker sequences (from the same Scala constant the
      // stitch uses), and the marker pattern is pure ASCII in the
      // Java∩RE2 intersection
      s"""WITH RECURSIVE
         | sd AS (SELECT doc_id, CASE WHEN lang = 'zh' THEN text || ' ' || ${OovFixtureTok.map(c => s"chr(${c.toInt})").mkString(" || ")} ELSE text END AS text FROM documents),
         | dw AS (SELECT doc_id, lower(t.tok) AS word
         |        FROM (SELECT doc_id, unnest(string_split_regex(text, '[ \\t\\n\\f\\r]+')) AS tok FROM sd) t
         |        WHERE length(t.tok) > 0),
         | wc AS (SELECT word, count(*) AS cnt FROM dw GROUP BY 1),
         |$BpeApplyCteByteFaithful,
         | wt AS (SELECT word, CAST(len(toks) AS BIGINT) AS n_toks,
         |        CAST(len(list_filter(toks, x -> regexp_matches(x, '^<0x[0-9a-f]{2}>$$'))) AS BIGINT) AS n_oov
         |        FROM fin)
         |SELECT d.lang, CAST(sum(wt.n_toks) AS BIGINT) AS bpe_tokens,
         | CAST(sum(wt.n_oov) AS BIGINT) AS oov_tokens,
         | CAST(floor(sum(wt.n_oov) * 1000000 / sum(wt.n_toks)) AS BIGINT) AS oov_ppm
         |FROM dw JOIN wt USING (word) JOIN documents d USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // tokenizer-fertility report: BPE-per-whitespace-token ratio per
    // language — the budget-realism number packing reads; the applier
    // still runs on DISTINCT words only
    Q("bpe_fertility", (s, d) => {
      val dt = Bpe.docTokenCounts(t(s, d).documents, Bpe.DefaultMerges,
        alphabet = Some(Bpe.DefaultAlphabet))
      dt.join(t(s, d).documents.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("ws_tokens"),
          sum(col("bpe_tokens")).as("bpe_tokens"))
        .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
          round(col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"), 6)
            .as("fertility"))
        .orderBy("lang")
    })(
      // same recursive applier CTE as bpe_doc_tokens, rolled up to the
      // language grain; fertility is one division over exact sums
      s"""WITH RECURSIVE
         | dw AS (SELECT doc_id, lower(t.tok) AS word
         |        FROM (SELECT doc_id, unnest(string_split_regex(text, '[ \\t\\n\\f\\r]+')) AS tok FROM documents) t
         |        WHERE length(t.tok) > 0),
         | wc AS (SELECT word, count(*) AS cnt FROM dw GROUP BY 1),
         |$BpeApplyCte,
         | per AS (SELECT doc_id, CAST(sum(len(toks)) AS BIGINT) AS bpe_tokens,
         |         CAST(count(*) AS BIGINT) AS ws_tokens
         |         FROM dw JOIN fin USING (word) GROUP BY 1)
         |SELECT d.lang, count(*) AS n_docs,
         | CAST(sum(p.ws_tokens) AS BIGINT) AS ws_tokens,
         | CAST(sum(p.bpe_tokens) AS BIGINT) AS bpe_tokens,
         | round(CAST(sum(p.bpe_tokens) AS DOUBLE) / CAST(sum(p.ws_tokens) AS DOUBLE), 6) AS fertility
         |FROM per p JOIN documents d USING (doc_id) GROUP BY 1 ORDER BY 1""".stripMargin),
    // per-label centroid table in long format: component-rounded
    // decimal sums (shuffle-order-proof), one posexplode + one
    // (label, dim) aggregate
    Q("label_centroids", (s, d) =>
      Similarity.labelCentroids(t(s, d).embeddings).orderBy("label", "dim"))(
      // the embedding[i]/generate_series device; per-component rounded
      // decimal sums mirror the Spark side exactly
      """WITH c AS (SELECT label, CAST(embedding[i] AS DOUBLE) AS x, CAST(i AS BIGINT) AS dim
        |   FROM (SELECT label, embedding, unnest(generate_series(1, len(embedding))) AS i FROM embeddings) z),
        | r AS (SELECT label, dim, CAST(round(x, 9) AS DECIMAL(38,9)) AS vd FROM c),
        | a AS (SELECT label, dim, count(*) AS n, sum(vd) AS s FROM r GROUP BY 1, 2)
        |SELECT CAST(label AS BIGINT) AS label, dim, n,
        | round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_v
        |FROM a ORDER BY label, dim""".stripMargin),
    // the second-moment structure as a relation (dim_i <= dim_j upper
    // triangle): centering means and cross products rounded before
    // DECIMAL sums, one division per cell — PCA/whitening/Mahalanobis
    // all start here
    Q("embedding_covariance", (s, d) =>
      Similarity.embeddingCovariance(t(s, d).embeddings).orderBy("dim_i", "dim_j"))(
      // centered components + rounded(12)-product DECIMAL sums over the
      // vec_id self-join — operation-for-operation the Spark chain
      s"""$CovCtes
         |SELECT dim_i, dim_j, n, cov FROM up ORDER BY dim_i, dim_j""".stripMargin),
    // dominant principal component: 3 power-iteration steps unrolled
    // over the exact covariance relation (the kmeans device — each
    // step one broadcast join + one d-row aggregate), λ = final ‖Cv‖
    Q("pca_top_component", (s, d) =>
      Similarity.pcaTopComponent(t(s, d).embeddings, iters = 3).orderBy("dim")) {
      // the same covariance CTEs symmetrized, then 3 unrolled
      // matvec/normalize steps (the kmeans/mmr device); λ from the
      // final norm
      val steps = (1 to 3).map { i =>
        s""" w$i AS (SELECT f.i AS dim, round(CAST(sum(CAST(round(f.cov * v${i - 1}.v, 12) AS DECIMAL(38,12))) AS DOUBLE), 8) AS w
           |   FROM fm f JOIN v${i - 1} ON v${i - 1}.dim = f.j GROUP BY 1),
           | n$i AS (SELECT sqrt(CAST(sum(CAST(round(w * w, 12) AS DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM w$i),
           | v$i AS (SELECT dim, round(w / (SELECT nrm FROM n$i), 8) AS v FROM w$i)""".stripMargin
      }.mkString(",\n")
      s"""$CovCtes,
         | fm AS (SELECT dim_i AS i, dim_j AS j, cov FROM up
         |   UNION ALL SELECT dim_j, dim_i, cov FROM up WHERE dim_i < dim_j),
         | v0 AS (SELECT DISTINCT dim_i AS dim, CAST(1.0 AS DOUBLE) AS v FROM up),
         |$steps
         |SELECT v3.dim, v3.v, round((SELECT nrm FROM n3), 6) AS lambda
         |FROM v3 ORDER BY dim""".stripMargin
    },
    // diagonal whitening: per-dim z-scores from the exact rounded-
    // DECIMAL variance — what every distance-based downstream assumes
    Q("embedding_standardize", (s, d) =>
      Similarity.embeddingStandardize(t(s, d).embeddings).orderBy("vec_id", "dim"))(
      // z = rounded(cx/σ) with σ = round(sqrt(round(var,8)),8) — every
      // rounding mirrored in order; zero-variance dims pinned to 0
      s"""$StdCtes
         |SELECT ce.vec_id, ce.dim,
         | CASE WHEN st.sigma = 0 THEN 0.0 ELSE round(ce.cx / st.sigma, 8) END AS z
         |FROM ce JOIN st USING (dim) ORDER BY vec_id, dim""".stripMargin),
    // hygiene screen: top-50 vectors by Σz² (diagonal Mahalanobis) —
    // scores far above d flag pipeline artifacts before modeling
    Q("embedding_outliers", (s, d) =>
      Similarity.embeddingOutliers(t(s, d).embeddings, k = 50).orderBy("rank"))(
      // Σz² DECIMAL-summed per vector, total-ordered top-50
      s"""$StdCtes,
         | zr AS (SELECT ce.vec_id,
         |    CASE WHEN st.sigma = 0 THEN 0.0 ELSE round(ce.cx / st.sigma, 8) END AS z
         |   FROM ce JOIN st USING (dim)),
         | m2 AS (SELECT vec_id,
         |    round(CAST(sum(CAST(round(z * z, 12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS m2
         |   FROM zr GROUP BY 1)
         |SELECT vec_id, m2, CAST(row_number() OVER (ORDER BY m2 DESC, vec_id) AS BIGINT) AS rank
         |FROM m2 ORDER BY m2 DESC, vec_id LIMIT 50""".stripMargin),
    // vector hygiene: per-label norm spread (rounded-term decimal
    // norm², nearest-rank p50/p90 picks) — a drifting norm scale
    // silently breaks dot-product ANN
    Q("embedding_norms", (s, d) => {
      val n2 = t(s, d).embeddings
        .select(col("label").cast("long").as("label"), col("vec_id"),
          posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("label"), col("vec_id"),
          round(col("x").cast("double") * col("x").cast("double"), 12)
            .cast("decimal(38,12)").as("x2"))
        .groupBy(col("label"), col("vec_id")).agg(sum(col("x2")).as("s2"))
        .select(col("label"), col("vec_id"),
          round(sqrt(col("s2").cast("double")), 6).as("nrm"))
      val wl = Window.partitionBy(col("label"))
      n2.withColumn("rn", row_number().over(wl.orderBy(col("nrm"), col("vec_id"))))
        .withColumn("n", count(lit(1)).over(wl))
        .groupBy(col("label"))
        .agg(max(col("n")).as("n_vecs"),
          min(col("nrm")).as("min_norm"), max(col("nrm")).as("max_norm"),
          max(when(col("rn") === ceil(col("n") * lit(0.5)).cast("long"), col("nrm"))).as("p50_norm"),
          max(when(col("rn") === ceil(col("n") * lit(0.9)).cast("long"), col("nrm"))).as("p90_norm"))
        .orderBy("label")
    })(
      // the embedding[i] device: rounded-term decimal norm², one sqrt,
      // nearest-rank picks over the rounded norms
      """WITH c AS (SELECT CAST(label AS BIGINT) AS label, vec_id, CAST(embedding[i] AS DOUBLE) AS x
        |   FROM (SELECT label, vec_id, embedding, unnest(generate_series(1, len(embedding))) AS i FROM embeddings) z),
        | s2 AS (SELECT label, vec_id, sum(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS s2
        |        FROM c GROUP BY 1, 2),
        | nr AS (SELECT label, vec_id, round(sqrt(CAST(s2 AS DOUBLE)), 6) AS nrm FROM s2),
        | r AS (SELECT label, vec_id, nrm,
        |       row_number() OVER (PARTITION BY label ORDER BY nrm, vec_id) AS rn,
        |       count(*) OVER (PARTITION BY label) AS n FROM nr)
        |SELECT label, max(n) AS n_vecs, min(nrm) AS min_norm, max(nrm) AS max_norm,
        | max(CASE WHEN rn = CAST(ceil(n * CAST(0.5 AS DOUBLE)) AS BIGINT) THEN nrm END) AS p50_norm,
        | max(CASE WHEN rn = CAST(ceil(n * CAST(0.9 AS DOUBLE)) AS BIGINT) THEN nrm END) AS p90_norm
        |FROM r GROUP BY label ORDER BY label""".stripMargin),
    // pack-efficiency rollup: per shard, pack count / entry count /
    // token total / mean fill vs the 64-token budget — the report that
    // tells you whether packing wastes context-window tokens
    Q("pack_stats", (s, d) => {
      val ch = Corpus.chunk(t(s, d).documents.select(col("doc_id"), col("text")), size = 128)
        .withColumn("n_tokens",
          size(TextOps.rawTokens(col("chunk"))).cast("long"))
      Corpus.packChunks(ch, tokensPerPack = 64L, nShards = 8)
        .groupBy(col("shard"), col("pack_id"))
        .agg(count(lit(1)).as("n_entries"), sum(col("n_tokens")).as("pack_tokens"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_packs"), sum(col("n_entries")).as("n_entries"),
          sum(col("pack_tokens")).as("total_tokens"),
          (sum(col("pack_tokens")).cast("double") / (count(lit(1)) * 64)).as("mean_fill"))
        .orderBy("shard")
    })(
      // pack-efficiency rollup over the same packing chain: per shard,
      // pack count, entry count, token total, and mean fill against the
      // 64-token budget
      s"""$PackCtes,
         | pp AS (SELECT shard, pack_id, count(*) AS n_entries, sum(n_tokens) AS pack_tokens
         |   FROM p GROUP BY shard, pack_id)
         |SELECT shard, count(*) AS n_packs, CAST(sum(n_entries) AS BIGINT) AS n_entries,
         | CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
         | CAST(sum(pack_tokens) AS DOUBLE) / (count(*) * 64) AS mean_fill
         |FROM pp GROUP BY shard ORDER BY shard""".stripMargin),
    // Gopher-style repetition signals (dup-trigram fraction, top-bigram
    // share): boilerplate/spam detectors for corpus filtering
    Q("repetition_stats", (s, d) =>
      TextQuality.repetitionStats(t(s, d).documents).orderBy("doc_id"))(
      // duplicate-gram fractions: BIGINT/BIGINT divisions on both sides
      // (DuckDB sum() widens to HUGEINT — cast back before dividing)
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> length(x) > 0) AS l FROM documents),
        | base AS (SELECT doc_id, l FROM toks WHERE len(l) >= 1),
        | tg AS (SELECT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS g
        |         FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i FROM base WHERE len(l) >= 3)),
        | tgs AS (SELECT doc_id, CAST(count(DISTINCT g) AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS t FROM tg GROUP BY doc_id),
        | bg AS (SELECT doc_id, l[i] || ' ' || l[i+1] AS g
        |         FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i FROM base WHERE len(l) >= 2)),
        | bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
        | tb AS (SELECT doc_id, CAST(max(c) AS BIGINT) / CAST(sum(c) AS BIGINT) AS top_bigram_frac FROM bgc GROUP BY doc_id)
        |SELECT b.doc_id, CAST(len(b.l) AS BIGINT) AS n_tokens,
        | coalesce(1.0 - CAST(tgs.d AS BIGINT) / tgs.t, 0.0) AS dup_trigram_frac,
        | coalesce(tb.top_bigram_frac, 0.0) AS top_bigram_frac
        |FROM base b LEFT JOIN tgs USING (doc_id) LEFT JOIN tb USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin),
    // sequence packing: chunks → fixed token-budget packs, sharded for
    // parallelism (the context-window assembly step after chunking)
    Q("packed_sequences", (s, d) => {
      val ch = Corpus.chunk(t(s, d).documents.select(col("doc_id"), col("text")), size = 128)
        .withColumn("n_tokens",
          size(TextOps.rawTokens(col("chunk"))).cast("long"))
      Corpus.packChunks(ch, tokensPerPack = 64L, nShards = 8)
        .select(col("shard"), col("pack_id"), col("doc_id"), col("chunk_idx"),
          col("n_tokens"), col("start_off"))
        .orderBy("shard", "doc_id", "chunk_idx")
    })(
      // chunk CTE (as doc_chunks) → per-chunk token counts → per-shard
      // cumulative start offsets → pack = floor(start / budget)
      s"""$PackCtes
         |SELECT shard, pack_id, doc_id, chunk_idx, n_tokens, start_off
         |FROM p ORDER BY shard, doc_id, chunk_idx""".stripMargin),
    // pack assembly: the packed training sequences themselves, ordered
    // chunk concatenation per (shard, pack)
    Q("packed_text", (s, d) => {
      val ch = Corpus.chunk(t(s, d).documents.select(col("doc_id"), col("text")), size = 128)
        .withColumn("n_tokens",
          size(TextOps.rawTokens(col("chunk"))).cast("long"))
      Corpus.assemblePacks(Corpus.packChunks(ch, tokensPerPack = 64L, nShards = 8))
        .orderBy("shard", "pack_id")
    })(
      // pack assembly twin: same chunk/token/offset CTEs, then DuckDB's
      // ordered string_agg mirrors the sorted-collect_list concatenation
      """WITH c AS (SELECT doc_id, text, CAST(ceil(length(text) / 128.0) AS BIGINT) AS n_chunks FROM documents),
        | u AS (SELECT doc_id, text, n_chunks, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx FROM c),
        | ch AS (SELECT doc_id, chunk_idx, substring(text, CAST(chunk_idx * 128 + 1 AS INT), 128) AS chunk FROM u),
        | tok AS (SELECT doc_id, chunk_idx, chunk, doc_id % 8 AS shard,
        |   CAST(len(list_filter(string_split_regex(chunk, '[ \t\n\f\r]+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens
        |   FROM ch),
        | off AS (SELECT doc_id, chunk_idx, chunk, shard, n_tokens,
        |   CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id, chunk_idx
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        |   FROM tok)
        |SELECT shard, CAST(floor(start_off / 64) AS BIGINT) AS pack_id,
        |  string_agg(chunk, ' ' ORDER BY doc_id, chunk_idx) AS pack_text,
        |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens, count(*) AS n_chunks
        |FROM off GROUP BY shard, pack_id ORDER BY shard, pack_id""".stripMargin),
    // packing under REAL subword budgets: same chunk/shard/offset
    // machinery as packed_sequences, but n_tokens is the chunk's BPE
    // token count under the frozen merges — tokenized over the
    // CHUNK-level vocabulary (128-char chunk boundaries split words,
    // and a fragment tokenizes as itself, not as its parent word)
    Q("packed_bpe", (s, d) => {
      bpePackedChunks(
        Corpus.chunk(t(s, d).documents.select(col("doc_id"), col("text")), size = 128))
        .select(col("shard"), col("pack_id"), col("doc_id"), col("chunk_idx"),
          col("n_tokens"), col("start_off"))
        .orderBy("shard", "doc_id", "chunk_idx")
    })(
      // packing twin under BPE budgets: the chunk CTEs of
      // packed_sequences + the recursive applier of bpe_tokens, with the
      // word relation built from CHUNK tokens (boundary fragments
      // tokenize as themselves on both engines)
      s"""WITH RECURSIVE
         | c AS (SELECT doc_id, text, CAST(ceil(length(text) / 128.0) AS BIGINT) AS n_chunks FROM documents),
         | u AS (SELECT doc_id, text, n_chunks, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx FROM c),
         | ch AS (SELECT doc_id, chunk_idx, substring(text, CAST(chunk_idx * 128 + 1 AS INT), 128) AS chunk FROM u),
         | cw AS (SELECT doc_id, chunk_idx, lower(t.tok) AS word
         |        FROM (SELECT doc_id, chunk_idx, unnest(string_split_regex(chunk, '[ \\t\\n\\f\\r]+')) AS tok FROM ch) t
         |        WHERE length(t.tok) > 0),
         | wc AS (SELECT word, count(*) AS cnt FROM cw GROUP BY 1),
         |$BpeApplyCte,
         | cb AS (SELECT cw.doc_id, cw.chunk_idx, CAST(sum(len(f.toks)) AS BIGINT) AS bpe_n
         |        FROM cw JOIN fin f USING (word) GROUP BY 1, 2),
         | tok AS (SELECT ch.doc_id, ch.chunk_idx, ch.doc_id % 8 AS shard,
         |        coalesce(cb.bpe_n, 0) AS n_tokens
         |        FROM ch LEFT JOIN cb USING (doc_id, chunk_idx)),
         | off AS (SELECT doc_id, chunk_idx, shard, n_tokens,
         |   CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id, chunk_idx
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
         |   FROM tok)
         |SELECT shard, CAST(floor(start_off / 64) AS BIGINT) AS pack_id, doc_id, chunk_idx, n_tokens, start_off
         |FROM off ORDER BY shard, doc_id, chunk_idx""".stripMargin),
    // benchmark decontamination: docs sharing >= 2 trigram shingles with
    // the held-out set (doc_id % 97 == 0 stands in for the eval suite)
    Q("decontaminate", (s, d) => {
      val docs = t(s, d).documents
      Corpus.decontaminate(
          docs.where(col("doc_id") % 97 =!= 0),
          docs.where(col("doc_id") % 97 === 0))
        .orderBy("doc_id")
    })(
      // text-shingle twin of the engine's 64-bit-id overlap count —
      // identical values absent xxhash64 collisions (prob ~n²/2⁶⁵)
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> length(x) > 0) AS l FROM documents),
        | pos AS (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i FROM toks WHERE len(l) >= 3),
        | sh AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS shingle FROM pos),
        | bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
        | ov AS (SELECT s.doc_id, count(*) AS n_overlap FROM sh s JOIN bsh USING (shingle)
        |         WHERE s.doc_id % 97 <> 0 GROUP BY s.doc_id)
        |SELECT t.doc_id, coalesce(ov.n_overlap, 0) AS n_overlap,
        | coalesce(ov.n_overlap, 0) >= 2 AS contaminated
        |FROM toks t LEFT JOIN ov USING (doc_id) WHERE t.doc_id % 97 <> 0
        |ORDER BY t.doc_id""".stripMargin),
    Q("lang_id", (s, d) => TextQuality.langId(t(s, d).documents).orderBy("doc_id"))(
      """WITH t AS (SELECT doc_id,
        |  list_transform(list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> length(x) > 0), x -> lower(x)) AS tk
        |  FROM documents),
        | s AS (SELECT doc_id,
        |  CAST(len(list_filter(tk, x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(tk, x -> list_contains(['der','die','das','und','ist','ein','zu','den'], x))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(tk, x -> list_contains(['el','la','los','y','en','que','un','se'], x))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(tk, x -> list_contains(['le','les','et','une','est','dans','pour','que'], x))) AS BIGINT) AS s_fr,
        |  CAST(len(list_filter(tk, x -> list_contains(['的','是','在','了','我','有','和','不'], x))) AS BIGINT) AS s_zh
        | FROM t)
        |SELECT doc_id,
        | CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |      WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |      WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |      WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS pred_lang,
        | s_en, s_de, s_es, s_fr, s_zh
        |FROM s ORDER BY doc_id""".stripMargin),
    // character-trigram language ID (the n-gram upgrade of the
    // stopword voter): counts are pure replace arithmetic, so the
    // twin computes identical integers
    Q("lang_id_ngram", (s, d) => TextQuality.langIdNgram(t(s, d).documents).orderBy("doc_id"))(
      // per-language gram-hit totals generated from the SAME Scala
      // profile constants the Spark expression uses (gram-length-aware
      // divisor — CJK profiles are character bigrams); replace() is
      // non-overlapping left-to-right in both engines, so the counts
      // are identical integers. The comparison chain is generated from
      // the same NgramLangs order and is provably the argmax with
      // earliest-index tie win — the first language >= all later ones
      // is a maximum (any earlier better one would have taken its
      // branch), which equals Spark's greatest() over (score, priority)
      // structs.
      langIdNgramTwin),
    // cleaning/redaction pass: markup + entities + an email + a URL are
    // stitched around each document deterministically, then stripped,
    // redacted and whitespace-normalized back out (Cleaning.clean) —
    // the corpus texts themselves are already clean, so the dirt is
    // constructed identically on both sides of the oracle
    // confusable-folding dedup: planted homoglyph-spoofed twins (pure
    // ASCII corpus — the card_scrub stitch device) defeat sha256
    // grouping until the fold; families group on the folded text
    Q("homoglyph_dedup", (s, d) => {
      val docs = t(s, d).documents.select(col("doc_id"), col("text"))
      val spoofs = docs.where(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 100000L).as("doc_id"),
          Cleaning.homoglyphSpoof(col("text")).as("text"))
      val all = docs.unionAll(spoofs)
      all.select(col("doc_id"),
          sha2(Cleaning.homoglyphNormalize(col("text")), 256).as("nh"),
          (sha2(col("text"), 256) =!= sha2(Cleaning.homoglyphNormalize(col("text")), 256))
            .as("was_spoofed"))
        .groupBy(col("nh"))
        .agg(min(col("doc_id")).as("rep_id"),
          count(lit(1)).as("n_members"),
          sum(when(col("was_spoofed"), lit(1L)).otherwise(lit(0L))).as("n_spoofed"))
        .select(col("rep_id"), col("n_members"), col("n_spoofed"))
        .orderBy("rep_id")
    }) {
      // the spoof map, the fold table and the fixture rule all render
      // from the SAME Scala constants (chr() for every non-ASCII char)
      val foldFrom = Cleaning.ConfusablesFrom.map(c => s"chr(${c.toInt})").mkString(" || ")
      val foldTo = s"'${Cleaning.ConfusablesTo}'"
      val spoofTo = "аеорсух".map(c => s"chr(${c.toInt})").mkString(" || ")
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         | sp AS (SELECT doc_id + 100000 AS doc_id, translate(text, 'aeopcyx', $spoofTo) AS text
         |        FROM documents WHERE doc_id % 7 = 3),
         | allv AS (SELECT * FROM base UNION ALL SELECT * FROM sp),
         | n AS (SELECT doc_id,
         |    sha256(translate(text, $foldFrom, $foldTo)) AS nh,
         |    sha256(text) <> sha256(translate(text, $foldFrom, $foldTo)) AS was_spoofed
         |   FROM allv)
         |SELECT min(doc_id) AS rep_id, count(*) AS n_members,
         | CAST(sum(CASE WHEN was_spoofed THEN 1 ELSE 0 END) AS BIGINT) AS n_spoofed
         |FROM n GROUP BY nh ORDER BY rep_id""".stripMargin
    },
    // phone + IPv4 scan/redaction over stitched deterministic dirt —
    // the PII pass beyond clean()'s URL/email redaction
    Q("pii_scan", (s, d) => {
      val fx = t(s, d).documents.select(col("doc_id"),
        concat(col("text"), Cleaning.piiFixtureSuffix(col("doc_id"))).as("text"))
      Cleaning.piiScan(fx).orderBy("doc_id")
    })(
      // same regex constants as the Spark pass; DuckDB standard strings
      // keep backslashes literal, so the patterns transfer verbatim
      s"""WITH fx AS (SELECT doc_id, text ||
         |   CASE doc_id % 5 WHEN 0 THEN ' call 555-867-5309 now'
         |                   WHEN 1 THEN ' from 192.168.1.77 seen'
         |                   WHEN 2 THEN ' dial +1 (415) 555-0199 via 10.0.0.255 today'
         |                   ELSE '' END AS text FROM documents),
         | np AS (SELECT doc_id, text,
         |    regexp_replace(text, '${Cleaning.PhoneRe}', '<PHONE>', 'g') AS nop FROM fx)
         |SELECT doc_id,
         | CAST(len(regexp_extract_all(text, '${Cleaning.PhoneRe}')) AS BIGINT) AS n_phones,
         | CAST(len(regexp_extract_all(nop, '${Cleaning.Ipv4Re}')) AS BIGINT) AS n_ips,
         | regexp_replace(nop, '${Cleaning.Ipv4Re}', '<IP>', 'g') AS clean
         |FROM np ORDER BY doc_id""".stripMargin),
    Q("text_clean", (s, d) => {
      val dirty = t(s, d).documents.select(col("doc_id"),
        concat(lit("<p>Contact <b>user"), col("doc_id").cast("string"),
          lit("@example.com</b> &amp; see https://ex.org/p?id="),
          col("doc_id").cast("string"), lit("&u=1</p>\t\t  "), col("text")).as("text"))
      Cleaning.clean(dirty).orderBy("doc_id")
    })(
      """WITH dirty AS (SELECT doc_id,
        |  '<p>Contact <b>user' || CAST(doc_id AS VARCHAR) ||
        |  '@example.com</b> &amp; see https://ex.org/p?id=' ||
        |  CAST(doc_id AS VARCHAR) || '&u=1</p>' || chr(9) || chr(9) || '  ' || text AS text
        |  FROM documents),
        | um AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    text, '<[^<>]*>', ' ', 'g'),
        |    '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |    '&#39;', '''', 'g'), '&amp;', '&', 'g') AS um
        |  FROM dirty),
        | nu AS (SELECT doc_id, um,
        |  regexp_replace(um, 'https?://[^\s]+', '<URL>', 'g') AS nou FROM um)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(um, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
        | CAST(len(regexp_extract_all(nou, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        | trim(regexp_replace(regexp_replace(regexp_replace(
        |   regexp_replace(nou, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '[\x00-\x08\x0b-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g'), '\s+', ' ', 'g')) AS clean
        |FROM nu ORDER BY doc_id""".stripMargin),
    // low-entropy gate: per-doc deflate ratio (rows-only — no SQL
    // engine exposes deflate; determinism + separation pinned by spec)
    RowsOnly("compression_ratio", "no SQL engine exposes deflate")((s, d) =>
      TextQuality.compressionRatio(t(s, d).documents).orderBy("doc_id")),
    // sentence segmentation (the unit C4-style line rules and
    // per-sentence dedup operate on): terminators stitched on
    // deterministically — the corpus has none
    Q("sentence_split", (s, d) => {
      val fx = t(s, d).documents.select(col("doc_id"),
        concat(col("text"), lit(". Doc "), col("doc_id").cast("string"),
          lit(" ends! Is it done? yes")).as("text"))
      TextQuality.sentences(fx).orderBy("doc_id", "sent_idx")
    })(
      """WITH fx AS (SELECT doc_id, text || '. Doc ' || CAST(doc_id AS VARCHAR) || ' ends! Is it done? yes' AS text FROM documents),
        | q AS (SELECT doc_id, list_filter(list_transform(regexp_extract_all(text, '[^.!?]+[.!?]*'), x -> trim(x)), x -> length(x) > 0) AS l FROM fx),
        | u AS (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM q)
        |SELECT doc_id, CAST(i AS BIGINT) AS sent_idx, l[i] AS sentence,
        | CAST(len(list_filter(string_split_regex(l[i], '[ \t\n\f\r]+'), x -> length(x) > 0)) AS BIGINT) AS n_words
        |FROM u ORDER BY doc_id, sent_idx""".stripMargin),
    // double-encoding screen BEFORE script routing: the UTF-8-read-
    // as-Latin-1 tell sequences (Ã/Â + continuation, â€ punctuation)
    // counted per doc — mojibake poisons tokenizers and lang ID
    // silently. The corpus is pure ASCII, so carriers are stitched on
    // deterministically (the card_scrub dirt device); clean docs MUST
    // count zero, which the twin re-proves by running the same regex
    // over the same stitched text
    Q("mojibake_screen", (s, d) => {
      val dirty = t(s, d).documents.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            lit(" caf" + TextQuality.MojiAccent)).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit(" " + TextQuality.MojiQuote + "quoted")).otherwise(lit("")))
          .as("text"))
      TextQuality.mojibakeScreen(dirty).orderBy("doc_id")
    }) {
      // the same stitched dirt, the same regex — pattern and fixture
      // constants rendered via chr() from the ONE Scala source of truth
      val pat = chrConcat(graft.operators.TextQuality.MojibakePattern)
      s"""WITH d AS (SELECT doc_id,
         |  text || (CASE WHEN doc_id % 5 = 0 THEN ' caf' || ${chrConcat(graft.operators.TextQuality.MojiAccent)} ELSE '' END)
         |       || (CASE WHEN doc_id % 7 = 0 THEN ' ' || ${chrConcat(graft.operators.TextQuality.MojiQuote)} || 'quoted' ELSE '' END) AS tx
         |  FROM documents)
         |SELECT doc_id,
         | CAST(len(regexp_extract_all(tx, $pat)) AS BIGINT) AS n_moji,
         | len(regexp_extract_all(tx, $pat)) > 0 AS is_moji
         |FROM d ORDER BY doc_id""".stripMargin
    },
    // script routing before language ID: per-doc codepoint-range
    // census + dominant-script verdict; CJK/Cyrillic stitched on
    // deterministically (the corpus is pure ASCII)
    Q("script_profile", (s, d) => {
      val id = col("doc_id")
      val suffix = when(id % 4 === 0, lit(" " + CjkSample))
        .when(id % 4 === 1, lit(" " + CyrSample + " 99"))
        .when(id % 4 === 2, lit(" " + CjkSample + " " + CyrSample))
        .otherwise(lit(""))
      TextQuality.scriptProfile(
        t(s, d).documents.select(id, concat(col("text"), suffix).as("text")))
        .orderBy("doc_id")
    }) {
      def c(cls: String) = s"CAST(length(text) - length(regexp_replace(text, '$cls', '', 'g')) AS BIGINT)"
      s"""WITH fx AS (SELECT doc_id, text || CASE doc_id % 4
         |  WHEN 0 THEN ' ' || ${chrConcat(CjkSample)}
         |  WHEN 1 THEN ' ' || ${chrConcat(CyrSample)} || ' 99'
         |  WHEN 2 THEN ' ' || ${chrConcat(CjkSample)} || ' ' || ${chrConcat(CyrSample)}
         |  ELSE '' END AS text FROM documents),
         | p AS (SELECT doc_id,
         |  ${c("[A-Za-z]")} AS n_latin,
         |  ${c("[\\x{0400}-\\x{04FF}]")} AS n_cyrillic,
         |  ${c("[\\x{4E00}-\\x{9FFF}]")} AS n_cjk,
         |  ${c("[0-9]")} AS n_digit,
         |  ${c("[ \\t\\n\\f\\r]")} AS n_space,
         |  CAST(length(text) AS BIGINT) AS n FROM fx)
         |SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_digit, n_space,
         | n - n_latin - n_cyrillic - n_cjk - n_digit - n_space AS n_other,
         | CASE WHEN n_latin + n_cyrillic + n_cjk = 0 THEN 'none'
         |      WHEN n_cjk >= n_latin AND n_cjk >= n_cyrillic THEN 'cjk'
         |      WHEN n_cyrillic >= n_latin THEN 'cyrillic'
         |      ELSE 'latin' END AS dominant
         |FROM p ORDER BY doc_id""".stripMargin
    },
    // Unicode NFC via the native codegen Expression (no Spark
    // built-in): decomposed combining sequences and compatibility
    // singletons stitched on deterministically, recomposed in-plan —
    // the canonicalization exact-hash dedup needs upstream
    Q("unicode_nfc", (s, d) => {
      val id = col("doc_id")
      val fx = t(s, d).documents.select(id,
        concat(col("text"), nfcSuffixCol(id)).as("text"))
      val nfc = graft.functions.NfcNormalize.nfc(col("text"))
      fx.select(col("doc_id"), nfc.as("clean"), (nfc =!= col("text")).as("changed"),
          length(col("text")).cast("long").as("n_before"),
          length(nfc).cast("long").as("n_after"))
        .orderBy("doc_id")
    })(
      s"""WITH fx AS (SELECT doc_id, text || $NfcSuffixSql AS text FROM documents)
        |SELECT doc_id, nfc_normalize(text) AS clean,
        | nfc_normalize(text) <> text AS changed,
        | CAST(length(text) AS BIGINT) AS n_before,
        | CAST(length(nfc_normalize(text)) AS BIGINT) AS n_after
        |FROM fx ORDER BY doc_id""".stripMargin),
    // checksum-validated PII: payment-card candidates by shape, Luhn
    // validation, valid matches redacted — invalid ones (order-id
    // shaped data) counted and kept. Fixture stitches standard TEST
    // numbers on deterministically (the text_clean device).
    Q("card_scrub", (s, d) =>
      Cleaning.scrubCards(Cleaning.cardFixtureFromDocs(t(s, d).documents)).orderBy("doc_id"))(
      // mirrors Cleaning.clean stage by stage: dirt construction, tag
      // strip, entity decode (amp LAST — same fold order as the Scala),
      // URL-then-email redaction, control strip, whitespace collapse.
      // All patterns are in the RE2 ∩ java.util.regex common subset.
      cardScrubTwinSql),
    Q("doc_fingerprint", (s, d) => TextQuality.fingerprint(t(s, d).documents).orderBy("doc_id"))(
      // doc_fingerprint CONVERTED from rows-only (round 12): the rolling
      // fold acc*FNV + xxhash64(word) replays via list_reduce over the
      // ordered per-doc hash list in the same HUGEINT wrap arithmetic;
      // wordless docs keep fp = 0 through the left join (Spark's
      // aggregate() init value)
      s"""WITH tl AS (SELECT doc_id,
         |   list_filter(list_transform(string_split_regex(text, '[ \\t\\n\\f\\r]+'),
         |     t -> lower(regexp_replace(t, '$P', '', 'g'))), x -> length(x) > 0) AS toks
         |   FROM documents),
         | xw AS (SELECT DISTINCT unnest(toks) AS word FROM tl),
         |${xxh64WordCtes},
         | tok AS (SELECT doc_id, unnest(toks) AS word, generate_subscripts(toks, 1) AS pos FROM tl),
         | hs AS (SELECT doc_id, pos, h FROM tok JOIN xh USING (word)),
         | lst AS (SELECT doc_id, list_prepend(0::HUGEINT, list(h ORDER BY pos)) AS hl FROM hs GROUP BY 1),
         | fpu AS (SELECT doc_id, list_reduce(hl, (acc, x) -> ${xadd(xmul("acc", "1099511628211"), "x")}) AS u FROM lst)
         |SELECT tl.doc_id,
         |  CAST(CASE WHEN coalesce(u, 0) >= 9223372036854775808 THEN u - $XW ELSE coalesce(u, 0) END AS BIGINT) AS fp
         |FROM tl LEFT JOIN fpu USING (doc_id) ORDER BY doc_id""".stripMargin),
    // the xxhash fingerprint's derived exact invariant: fp is a pure
    // function of text, so distinct-fp count ≤ distinct-text count
    // with equality iff collision-free — the property fingerprint
    // comparison stands on, now hash-checked (the 64-bit budget makes
    // a real collision ~n²/2⁶⁵; a broken fold shows up immediately)
    Q("fingerprint_collision_audit", (s, d) => {
      val docs = t(s, d).documents
      val texts = docs.agg(count(lit(1)).as("n_docs"),
        countDistinct(sha2(col("text"), 256)).as("n_distinct_texts"))
      val nfp = TextQuality.fingerprint(docs)
        .agg(countDistinct(col("fp")).as("n_distinct_fps"))
      texts.crossJoin(broadcast(nfp))
    })(
      // collision-freeness rendered relationally: distinct fingerprints
      // must equal distinct texts (fp is a pure function of text)
      """SELECT count(*) AS n_docs,
        | count(DISTINCT sha256(text)) AS n_distinct_texts,
        | count(DISTINCT sha256(text)) AS n_distinct_fps
        |FROM documents""".stripMargin),
    // same rolling-hash construction with the reference's affine word
    // hash and a mod-1e9+7 fold — DuckDB-expressible, so hash-checked
    Q("fingerprint_ref", (s, d) => TextQuality.fingerprintRef(t(s, d).documents).orderBy("doc_id"))(
      // rolling fingerprint with the reference's affine word hash: the
      // per-word char-sum folds through (acc*31 + h) mod 1e9+7 — every
      // intermediate stays far inside 64 bits, so DuckDB's list_reduce
      // reproduces Spark's aggregate() exactly (pmod mirrored the usual
      // way for sign safety)
      s"""WITH cw AS (SELECT doc_id,
         |    $CleanTokensSql AS ws
         |  FROM documents),
         | h AS (SELECT doc_id, list_transform(ws, w ->
         |    CAST(coalesce(list_sum(list_transform(string_split(w, ''), c -> 22 + 23*(ascii(c) - 14))), 0) AS BIGINT)) AS hs
         |  FROM cw)
         |SELECT doc_id, CAST(((list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
         |    (acc, x) -> (acc * 31 + x) % 1000000007) % 1000000007) + 1000000007) % 1000000007 AS BIGINT) AS fp
         |FROM h ORDER BY doc_id""".stripMargin))

  /** Per-dim components rounded(9) (`c`), the DECIMAL mean per dim
    * (`m`) and the centered components (`ce`). */
  private val CenteredCtes: String =
    """WITH c AS (SELECT vec_id, CAST(i AS BIGINT) AS dim, round(CAST(embedding[i] AS DOUBLE), 9) AS x
      |   FROM (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) AS i FROM embeddings) z),
      | m AS (SELECT dim, count(*) AS n,
      |    round(CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mu
      |   FROM c GROUP BY 1),
      | ce AS (SELECT c.vec_id, c.dim, round(c.x - m.mu, 9) AS cx FROM c JOIN m USING (dim)),""".stripMargin

  /** Shared covariance CTE chain (embedding_covariance +
    * pca_top_component): rounded(9) components, DECIMAL-mean
    * centering, rounded(12) cross products DECIMAL-summed over the
    * vec_id self-join — mirrors Similarity.embeddingCovariance
    * operation-for-operation. */
  private lazy val CovCtes: String =
    s"""$CenteredCtes
      | up AS (SELECT a.dim AS dim_i, b.dim AS dim_j, count(*) AS n,
      |    round(CAST(sum(CAST(round(a.cx * b.cx, 12) AS DECIMAL(38,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 8) AS cov
      |   FROM ce a JOIN ce b ON a.vec_id = b.vec_id AND a.dim <= b.dim GROUP BY 1, 2)""".stripMargin

  /** Standardization CTE chain (embedding_standardize +
    * embedding_outliers): CovCtes' centered components + the per-dim
    * rounded σ — mirrors Similarity.embeddingStandardize. */
  private lazy val StdCtes: String =
    s"""$CenteredCtes
      | st AS (SELECT dim,
      |    round(sqrt(round(CAST(sum(CAST(round(cx * cx, 12) AS DECIMAL(38,12))) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE), 8)), 8) AS sigma
      |   FROM ce GROUP BY 1)""".stripMargin

  /** Byte-faithful applier base case for the OOV-stitched corpus. */
  private val BpeApplyCteByteFaithful: String = {
    val cases = OovFixtureTok.map { c =>
      val bytes = c.toString.getBytes("UTF-8")
        .map(b => f"'<0x${b & 0xff}%02x>'").mkString("[", ", ", "]")
      s"WHEN c = chr(${c.toInt}) THEN $bytes"
    }.mkString(" ")
    bpeApplyCte(
      s"flatten(list_transform(list_filter(string_split(word, ''), c -> length(c) > 0), c -> CASE $cases ELSE [c] END))")
  }

  /** Shared bigram-LM CTE chain (bigram_logprob + perplexity_filter
    * twins): ordered cleaned-word lists → adjacent pairs → min-count-
    * pruned model with stupid backoff → per-doc DECIMAL-summed logs in
    * `s(doc_id, n_bigrams, sl)`. */
  private val BigramCtes =
    s"""WITH toks AS (SELECT doc_id,
       |    $CleanTokensSql AS ws
       |  FROM documents),
       | uni AS (SELECT w AS word, count(*) AS cnt FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY 1),
       | tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM uni),
       | bg AS (SELECT doc_id, ws[i] AS prev, ws[i+1] AS cur
       |        FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM toks WHERE len(ws) >= 2)),
       | model AS (SELECT prev, cur, count(*) AS bcnt FROM bg GROUP BY 1, 2 HAVING count(*) >= 2),
       | sc AS (SELECT bg.doc_id,
       |     CAST(round(CASE WHEN m.bcnt IS NOT NULL
       |       THEN ln(CAST(m.bcnt AS DOUBLE) / CAST(up.cnt AS DOUBLE))
       |       ELSE ln(0.4 * CAST(uc.cnt AS DOUBLE) / t.total) END, 12) AS DECIMAL(28,12)) AS l
       |   FROM bg
       |   LEFT JOIN model m ON bg.prev = m.prev AND bg.cur = m.cur
       |   JOIN uni up ON bg.prev = up.word
       |   JOIN uni uc ON bg.cur = uc.word
       |   CROSS JOIN tot t),
       | s AS (SELECT doc_id, count(*) AS n_bigrams, sum(l) AS sl FROM sc GROUP BY 1)""".stripMargin

  /** BM25 query + parameters, shared by the Spark query and its twin.
    * The twin interpolates the SAME Scala-computed doubles the Spark
    * expression uses (shortest-round-trip rendering parses back to the
    * identical bits in DuckDB), so both engines evaluate bit-equal
    * literals — the same discipline dsum applies to aggregation. */
  // script-profile fixture constants (explicit escapes; the twin
  // rebuilds the identical sequences via chr())
  private val CjkSample = "中文語料"

  private val CyrSample = "слово"

  private def chrConcat(s: String): String = s.map(c => s"chr(${c.toInt})").mkString(" || ")

  /** N-gram language-ID twin — a val so the lang_id_confusion twin
    * can embed the identical prediction query as a subquery. */
  private lazy val langIdNgramTwin: String = {
    val langs = TextQuality.NgramLangs
    val score = (l: String) => TextQuality.NgramProfiles(l)
      .map(g => s"(length(t) - length(replace(t, '$g', ''))) // ${g.length}")
      .mkString(" + ")
    val scoreCols = langs
      .map(l => s"  CAST(${score(l)} AS BIGINT) AS g_$l").mkString(",\n")
    val allZero = langs.map(l => s"g_$l = 0").mkString(" AND ")
    val chain = langs.init.zipWithIndex.map { case (l, i) =>
      val conds = langs.drop(i + 1).map(j => s"g_$l >= g_$j").mkString(" AND ")
      s"      WHEN $conds THEN '$l'"
    }.mkString("\n")
    s"""WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents),
       | sc AS (SELECT doc_id,
       |$scoreCols
       | FROM p)
       |SELECT doc_id,
       | CASE WHEN $allZero THEN 'und'
       |$chain
       |      ELSE '${langs.last}' END AS pred_lang,
       | ${langs.map(l => s"g_$l").mkString(", ")}
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Card-scrub twin: fixture stitched from the SAME TestCards /
    * TestNonCards constants; Luhn replayed as integer lambda
    * arithmetic; redaction folded with list_reduce(list_prepend) —
    * text as init, candidates in document order. */
  private lazy val cardScrubTwinSql: String =
    s"""${cardScrubCtes(s"WITH fx AS (SELECT doc_id, text || $CardSuffixSql AS text FROM documents)")}
       |SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_candidates,
       | CAST(len(valids) AS BIGINT) AS n_cards,
       | list_reduce(list_prepend(text, valids), (a, b) -> replace(a, b, '<CARD>')) AS clean
       |FROM v ORDER BY doc_id""".stripMargin

  /** The packed_sequences twin's chain (128-char chunks → whitespace
    * token counts → per-shard running offsets → pack ids), ending in
    * CTE `p` — shared with the pack_stats rollup twin. */
  private def PackCtes: String =
    """WITH c AS (SELECT doc_id, text, CAST(ceil(length(text) / 128.0) AS BIGINT) AS n_chunks FROM documents),
      | u AS (SELECT doc_id, text, n_chunks, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx FROM c),
      | ch AS (SELECT doc_id, chunk_idx, substring(text, CAST(chunk_idx * 128 + 1 AS INT), 128) AS chunk FROM u),
      | tok AS (SELECT doc_id, chunk_idx, doc_id % 8 AS shard,
      |   CAST(len(list_filter(string_split_regex(chunk, '[ \t\n\f\r]+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens
      |   FROM ch),
      | off AS (SELECT doc_id, chunk_idx, shard, n_tokens,
      |   CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id, chunk_idx
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
      |   FROM tok),
      | p AS (SELECT shard, CAST(floor(start_off / 64) AS BIGINT) AS pack_id,
      |   doc_id, chunk_idx, n_tokens, start_off FROM off)""".stripMargin

  /** Each doc's (doc_id, lang, score): its bigram LM average
    * log-prob. */
  private def bigramScored(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"))
      .join(TextQuality.bigramLogProb(docs)
        .select(col("doc_id"), col("avg_logprob").as("score")), Seq("doc_id"))

  /** [[bigramScored]]'s twin `scd` and its per-lang percent rank `r`. */
  private lazy val BigramRankCtes: String =
    s"""$BigramCtes,
       | scd AS (SELECT d.doc_id, d.lang, round(CAST(s.sl AS DOUBLE) / s.n_bigrams, 6) AS score
       |         FROM documents d JOIN s ON d.doc_id = s.doc_id),
       | r AS (SELECT doc_id, lang, score,
       |         percent_rank() OVER (PARTITION BY lang ORDER BY score) AS pr FROM scd)""".stripMargin
}
