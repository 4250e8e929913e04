package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators._

/** The DuckDB-twin fragments, shared constants and Spark-side helpers
  * that two or more query families use (one used by a single family
  * lives in that family's file). */
object Twins {
  /** The C-ispunct character class, RE2 spelling, for the DuckDB twins. */
  private[queries] val P = "[!-/:-@\\[-`{-~]"

  /** One oracle for both the batch and the streaming interval join —
    * the streaming pipeline must converge to the identical answer. */
  private[queries] val IntervalJoinSql =
    """WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS tsu FROM events)
      |SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
      |FROM e p JOIN e c ON c.user_id = p.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND c.tsu >= p.tsu - INTERVAL '30 minutes' AND c.tsu <= p.tsu
      |ORDER BY purchase_id, click_id""".stripMargin

  /** 5-iteration PageRank twin over a pluggable `edges(src, dst)` CTE
    * prefix (must start with WITH) — shared by `page_rank` (trade
    * graph) and `crawl_rank` (extracted HTML link graph). */
  private[queries] def pageRankCtes(edgesCtePrefix: String): String = {
    val pre =
      s"""$edgesCtePrefix,
         | nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst AS node FROM edges),
         | deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         | nn AS (SELECT count(*) AS n FROM nodes),
         | r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes)""".stripMargin
    val iters = (1 to 5).map { i =>
      s""" r$i AS (SELECT nodes.node,
         |   (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
         |     + CAST(0.85 AS DOUBLE) * CAST(coalesce(c.s, 0) AS DOUBLE) AS rank
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS node, sum(CAST(round(r.rank / deg.deg, 12) AS DECIMAL(38,12))) AS s
         |    FROM r${i - 1} r JOIN deg ON deg.src = r.node JOIN edges e ON e.src = r.node
         |    GROUP BY e.dst) c ON c.node = nodes.node)""".stripMargin
    }.mkString(",\n")
    s"$pre,\n$iters"
  }

  /** PageRank twin: the 5 fixed iterations UNROLLED as chained CTEs
    * (straight-line SQL sidesteps engines' recursive-CTE aggregation
    * restrictions while computing the identical fold). Every arithmetic
    * step mirrors Graph.pageRank operation-for-operation: double init
    * 1/n, per-edge round(rank/deg, 12), exact DECIMAL(38,12) sums,
    * then (1−0.85)·… as single IEEE double ops. */
  private[queries] def pageRankUnrolled(edgesCtePrefix: String): String =
    s"${pageRankCtes(edgesCtePrefix)}\nSELECT node, round(rank, 8) AS pr FROM r5 ORDER BY node"

  /** Closed-form crawl edges: the page fixture's nav links target
    * (7id+3, 13id+5, id+1) mod 1000 — the twin derives the SAME graph
    * from doc_id arithmetic, so hash equality proves the Spark side's
    * href extraction from raw markup. */
  private[queries] val CrawlEdgesBody = {
    val m = Html.DefaultLinkSpace // the SAME constant pageFromDocs links with
    s"""t AS (SELECT doc_id, unnest([(doc_id*7+3)%$m, (doc_id*13+5)%$m, (doc_id+1)%$m]) AS dst
       |           FROM documents),
       | edges AS (SELECT DISTINCT doc_id AS src, dst FROM t WHERE dst <> doc_id)""".stripMargin
  }

  private[queries] val CrawlEdgesCte = s"WITH $CrawlEdgesBody"

  /** Closed-form SQL for the URL fixture's host / registered domain
    * (Html.fixtureHost / registeredDomain on it), parameterized on a
    * site-index expression — shared by the url_normalize and
    * site_components twins. */
  private[queries] def sqlHost(k: String): String =
    s"(CASE WHEN ($k)%3=0 THEN 'site'||($k)||'.shop.example.co.uk' " +
      s"ELSE 'site'||($k)||'.example.com' END)"

  /** The PSL algorithm as DuckDB CTEs, rules generated from the SAME
    * bundled snapshot the engine broadcasts
    * (graft.operators.PublicSuffix.Snapshot) — the twin replays
    * candidate-key explosion, exception-then-most-labels prevailing
    * rule, and the default `*`. `src` is an existing CTE with a
    * `host` column; the chain ends in `psl_map(host, site,
    * public_suffix)` (site NULL when the host IS a public suffix). */
  private[queries] def pslCtes(src: String): String = {
    // the full ~9.5k-rule bundled list, inlined as ONE space-joined
    // literal (rules contain no spaces/quotes) and re-parsed in SQL —
    // the twin replays the same ASCII-folded rule set the engine
    // broadcasts, marker syntax and all, at ~1/3 the SQL size of a
    // VALUES list
    val rules = graft.operators.PublicSuffix.Snapshot.mkString(" ")
    s""" psl_raw AS (SELECT unnest(string_split('$rules', ' ')) AS r),
       | psl_rules AS (SELECT
       |    CASE WHEN r LIKE '!%' THEN substr(r, 2) ELSE r END AS key,
       |    len(string_split(CASE WHEN r LIKE '!%' THEN substr(r, 2) ELSE r END, '.')) AS labels,
       |    (r LIKE '!%') AS exc
       |   FROM psl_raw),
       | psl_n AS (SELECT host,
       |    string_split(lower(regexp_replace(host, ':[0-9]+$$', '')), '.') AS p,
       |    len(string_split(lower(regexp_replace(host, ':[0-9]+$$', '')), '.')) AS n
       |   FROM (SELECT DISTINCT host FROM $src)),
       | psl_k AS (
       |   SELECT host, array_to_string(p[n-L+1:n], '.') AS key
       |   FROM psl_n, unnest(generate_series(1, n)) t(L)
       |   UNION ALL
       |   SELECT host, '*.' || array_to_string(p[n-L+2:n], '.')
       |   FROM psl_n, unnest(generate_series(2, n)) t(L)),
       | psl_w AS (SELECT host, labels - CASE WHEN exc THEN 1 ELSE 0 END AS eff,
       |    row_number() OVER (PARTITION BY host
       |      ORDER BY exc DESC, labels DESC, key) AS rn
       |   FROM psl_k JOIN psl_rules USING (key)),
       | psl_map AS (SELECT h.host,
       |    CASE WHEN h.n > coalesce(w.eff, 1)
       |      THEN array_to_string(h.p[h.n-coalesce(w.eff,1):h.n], '.') END AS site,
       |    array_to_string(h.p[h.n-coalesce(w.eff,1)+1:h.n], '.') AS public_suffix
       |   FROM psl_n h LEFT JOIN (SELECT * FROM psl_w WHERE rn = 1) w USING (host))""".stripMargin
  }

  /** Shared token-pipeline CTE for the wordcount family. */
  private[queries] val W =
    s"""WITH w AS (
       |  SELECT lower(regexp_replace(t.tok, '$P', '', 'g')) AS word
       |  FROM (SELECT unnest(string_split_regex(text, '[ \\t\\n\\f\\r]+')) AS tok FROM documents) t
       |)""".stripMargin

  /** Shared by the batch and streaming STL monitors — the streamed
    * daily relation converges to the batch one. */
  private[queries] lazy val stlTwinSql: String =
    """WITH daily AS (SELECT event_type AS key, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
      |               FROM events GROUP BY 1, 2),
      | tr AS (SELECT key, day, n,
      |    CAST(floor(CAST(CAST(sum(n) OVER w AS BIGINT) * 1000000 AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE)) AS BIGINT) AS trend_u
      |   FROM daily WINDOW w AS (PARTITION BY key ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      | dv AS (SELECT key, day, n, trend_u,
      |    CAST((day - DATE '1970-01-05') % 7 AS BIGINT) AS dow,
      |    n * 1000000 - trend_u AS dev_u FROM tr),
      | se AS (SELECT key, dow,
      |    CAST(floor(CAST(sum(dev_u) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS seasonal_u
      |   FROM dv GROUP BY 1, 2)
      |SELECT dv.key, dv.day, dv.n,
      | CAST(dv.trend_u AS DOUBLE) / 1000000.0 AS trend, dv.dow,
      | CAST(se.seasonal_u AS DOUBLE) / 1000000.0 AS seasonal,
      | CAST(dv.dev_u - se.seasonal_u AS DOUBLE) / 1000000.0 AS residual
      |FROM dv JOIN se USING (key, dow) ORDER BY dv.key, dv.day""".stripMargin

  /** Shared by the batch and streaming priority samplers — the
    * drained stream must answer exactly what one batch pass answers. */
  private[queries] lazy val prioritySampleTwinSql: String =
    """WITH keyed AS (
      |  SELECT doc_id, CAST(length(text) AS BIGINT) AS weight,
      |    greatest(CAST(floor((CASE WHEN (((doc_id % 2147483648) * 2654435761) % 4294967296) = 0 THEN 4294967296 ELSE (((doc_id % 2147483648) * 2654435761) % 4294967296) END) * 1048576
      |         / CAST(length(text) AS DOUBLE)) AS BIGINT), 1) AS pkey
      |  FROM documents WHERE length(text) > 0),
      | top AS (SELECT * FROM keyed ORDER BY pkey, doc_id LIMIT 201),
      | ranked AS (SELECT top.*, row_number() OVER (ORDER BY pkey, doc_id) AS rn FROM top),
      | stats AS (SELECT count(*) AS cnt, max(pkey) AS mx FROM top)
      |SELECT doc_id, weight,
      | round(greatest(CAST(weight AS DOUBLE),
      |   CASE WHEN (SELECT cnt FROM stats) = 201
      |        THEN 4503599627370496.0 / CAST((SELECT mx FROM stats) AS DOUBLE)
      |        ELSE 0.0 END), 6) AS w_est
      |FROM ranked
      |WHERE (SELECT cnt FROM stats) <= 200 OR rn <= 200
      |ORDER BY doc_id""".stripMargin

  /** Per-document variant of [[W]] for the retrieval family. */
  private[queries] val WDoc =
    s"""WITH w0 AS (
       |  SELECT doc_id, lower(regexp_replace(t.tok, '$P', '', 'g')) AS word
       |  FROM (SELECT doc_id, unnest(string_split_regex(text, '[ \\t\\n\\f\\r]+')) AS tok FROM documents) t
       |), w AS (SELECT doc_id, word FROM w0 WHERE length(word) > 0)""".stripMargin

  /** The frozen BPE merge table as a DuckDB VALUES list — generated
    * from the SAME Scala constant the Spark queries broadcast, so the
    * two engines can never drift on the artifact. */
  private[queries] val BpeMergesValues = Bpe.DefaultMerges.zipWithIndex
    .map { case ((l, r), i) => s"($i,'$l','$r')" }.mkString(", ")

  /** The stitched-on OOV fixture token for bpe_oov_rate ("数据"): the
    * raw corpus is alphabet-pure (n_oov = 0 for every language —
    * hash-proven), so the byte-fallback path needs planted dirt, the
    * card_scrub device. Both engines derive their rendering of it
    * from THIS one constant. */
  private[queries] val OovFixtureTok = "数据"

  /** DuckDB applier base case, parameterizable: the default splits a
    * word per character — correct ONLY while every char is in the
    * learned alphabet (true of the raw corpus, hash-proven). The
    * byte-faithful variant used by bpe_oov_rate expands each planted
    * OOV char to its `<0xHH>` UTF-8 marker sequence (generated in
    * Scala from [[OovFixtureTok]]), mirroring Bpe.tokens' fallback; no
    * learned merge touches a marker (the alphabet-pure corpus could
    * never produce one), so both engines' token streams stay aligned. */
  private[queries] def bpeApplyCte(baseToks: String =
      "list_filter(string_split(word, ''), c -> length(c) > 0)") =
    s""" merges(rank, l, r) AS (VALUES $BpeMergesValues),
       | st AS (
       |   SELECT word, $baseToks AS toks
       |   FROM (SELECT DISTINCT word FROM wc)
       |   UNION ALL
       |   SELECT word,
       |     list_slice(toks, 1, j - 1) || [toks[j] || toks[j+1]] || list_slice(toks, j + 2, len(toks)) AS toks
       |   FROM (
       |     SELECT word, toks, list_position(pairs, bp) AS j
       |     FROM (
       |       SELECT word, toks, pairs,
       |         (SELECT m.l || ' ' || m.r FROM merges m
       |          WHERE list_contains(pairs, m.l || ' ' || m.r) ORDER BY m.rank LIMIT 1) AS bp
       |       FROM (SELECT word, toks,
       |               list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS pairs
       |             FROM st) p
       |     ) q WHERE bp IS NOT NULL
       |   ) z
       | ),
       | fin AS (
       |   SELECT word, toks FROM st
       |   WHERE NOT EXISTS (SELECT 1 FROM merges m
       |     WHERE list_contains(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]),
       |       m.l || ' ' || m.r))
       | )""".stripMargin

  /** Shared recursive-CTE BPE applier (the bpe_* twins): one-splice-
    * per-iteration best-rank merge, bit-identical to Bpe.applyMerges —
    * `fin` holds each distinct word's terminal tokenization. Expects a
    * CTE `wc(word, cnt)` in scope. */
  private[queries] val BpeApplyCte = bpeApplyCte()

  private[graft] val Bm25Terms = Seq("spark", "hash", "dup")

  private[queries] val Bm25K1 = 1.2

  private[queries] val Bm25B = 0.75

  // df cap shared by the retrieval queries and their twins; chosen to
  // BIND at sf0.01 (df range 25..402 over 500 docs) so the stop-term
  // enforcement is exercised through the oracle gate, not just specs
  private[graft] val RetrievalMaxDf = 390

  /** The exact top-100 word count: the plain top-k and both aggregate
    * top-k operators (`topk_udaf`, `topk_imperative`) must all return it. */
  private[queries] lazy val wordcountTop100TwinSql: String =
    s"$W SELECT word, count(*) AS cnt FROM w WHERE length(word) > 0 GROUP BY word ORDER BY cnt DESC, word LIMIT 100"

  /** Hourly tumbling windows, batch and streamed: the streaming pipeline
    * converges to the batch answer. */
  private[queries] lazy val tumblingAggTwinSql: String =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start, event_type,
      | count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY win_start, event_type ORDER BY win_start, event_type""".stripMargin

  /** One-hour windows sliding by 30 minutes, batch and streamed. */
  private[queries] lazy val slidingAggTwinSql: String =
    """WITH e AS (SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS b, value FROM events),
      | x AS (SELECT b AS win_start, value FROM e
      |        UNION ALL SELECT b - INTERVAL '30 minutes' AS win_start, value FROM e)
      |SELECT win_start, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM x GROUP BY win_start ORDER BY win_start""".stripMargin

  /** 30-minute-gap sessions per user, batch and streamed. */
  private[queries] lazy val sessionAggTwinSql: String =
    """WITH e AS (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS tsu FROM events),
      | o AS (SELECT *, lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS prev FROM e),
      | f AS (SELECT *, CASE WHEN prev IS NULL OR tsu - prev >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s FROM o),
      | s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
      |SELECT user_id, min(tsu) AS session_start, count(*) AS n_events,
      | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  /** Daily CUSUM change point per event type, batch and streamed. */
  private[queries] lazy val changePointsTwinSql: String =
    """WITH daily AS (SELECT event_type AS key, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
      |               FROM events GROUP BY 1, 2),
      | r AS (SELECT key, day, n,
      |        CAST(row_number() OVER (PARTITION BY key ORDER BY day) AS BIGINT) AS i,
      |        CAST(sum(n) OVER (PARTITION BY key ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run,
      |        count(*) OVER (PARTITION BY key) AS n_days,
      |        CAST(sum(n) OVER (PARTITION BY key) AS BIGINT) AS total
      |        FROM daily),
      | c AS (SELECT key, day, n_days, n_days * run - i * total AS cusum_n
      |        FROM r WHERE n_days >= 5),
      | k AS (SELECT key, day, n_days, cusum_n,
      |        row_number() OVER (PARTITION BY key ORDER BY abs(cusum_n) DESC, day) AS rk FROM c)
      |SELECT key, day AS change_day, n_days,
      | round(CAST(cusum_n AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS peak_cusum
      |FROM k WHERE rk = 1 ORDER BY key""".stripMargin

  /** The crawl edge list, batch-extracted and drained from the stream. */
  private[queries] lazy val outlinksTwinSql: String =
    s"""$CrawlEdgesCte
       |SELECT src, dst FROM edges ORDER BY src, dst""".stripMargin

  /** One BM25 twin serves both the recompute path (`bm25_topk`) and
    * the persisted-index path (`bm25_from_index`): the index stores
    * exactly the relations this SQL derives, so lifecycle parity is
    * proven by both queries hashing against the same oracle. */
  private[queries] lazy val bm25TwinSql: String = {
    val termCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"max(CASE WHEN word = '$t' THEN w_score END) AS s$i"
    }.mkString(",\n        | ")
    val scoreSum = Bm25Terms.indices.map(i => s"coalesce(s$i, 0.0)").mkString(" + ")
    val inList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""$WDoc,
       | tf AS (SELECT doc_id, word, count(*) AS tf FROM w WHERE word IN ($inList) GROUP BY 1, 2),
       | dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= $RetrievalMaxDf),
       | dl AS (SELECT d.doc_id, coalesce(c.c, 0) AS dl FROM documents d
       |        LEFT JOIN (SELECT doc_id, count(*) AS c FROM w GROUP BY 1) c USING (doc_id)),
       | st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       | contrib AS (
       |   SELECT t.doc_id, t.word,
       |     ln((st.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
       |       * (t.tf * ${Bm25K1 + 1.0}) / (t.tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * dl.dl / st.avgdl)) AS w_score
       |   FROM tf t JOIN dfq f USING (word) JOIN dl ON dl.doc_id = t.doc_id CROSS JOIN st),
       | per AS (SELECT doc_id,
       | $termCols
       | FROM contrib GROUP BY doc_id)
       |SELECT doc_id, round($scoreSum, 4) AS score
       |FROM per ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  // ---- XXH64 re-expressed as DuckDB SQL (round 12) -----------------
  // The device that puts Spark's xxhash64-keyed fingerprints behind
  // the oracle hash gate: XXH64 (public domain, Yann Collet) for
  // short (< 32-byte) ASCII strings — exactly the clean-word /
  // token regime of the fixtures — with 64-bit WRAPPING arithmetic
  // emulated in HUGEINT (multiply via 32-bit split so no partial
  // exceeds int128; xor through signed-BIGINT two's complement;
  // rotate as shift-or-shift). Validated word-for-word against an
  // independent XXH64 reference AND against Spark's own simhash /
  // fingerprint dumps before registration. A ≥32-byte or non-ASCII
  // token would need the stripe loop / UTF-8 bytes — it would FAIL
  // the gate loudly, never silently corrupt it.
  private[queries] val XW = "18446744073709551616" // 2^64

  private[queries] val XP1 = "11400714785074694791"

  private[queries] val XP2 = "14029467366897019727"

  private[queries] val XP3 = "1609587929392839161"

  private[queries] val XP4 = "9650029242287828579"

  private[queries] val XP5 = "2870177450012600261"

  private[queries] def xmul(a: String, b: String): String =
    s"(((($a)%4294967296)*(($b)%4294967296) + (((($a)//4294967296)*(($b)%4294967296) + (($a)%4294967296)*(($b)//4294967296)) % 4294967296) * 4294967296) % $XW)"

  private[queries] def xadd(a: String, b: String): String = s"((($a) + ($b)) % $XW)"

  private[queries] def xrot(x: String, r: Int): String =
    s"((($x) * ${1L << r} + ($x) // ${1L << (64 - r)}) % $XW)"

  private[queries] def xxor(a: String, b: String): String = {
    def ts(v: String) =
      s"CAST(CASE WHEN ($v) >= 9223372036854775808 THEN ($v) - $XW ELSE ($v) END AS BIGINT)"
    s"(CAST(xor(${ts(a)}, ${ts(b)}) AS HUGEINT) + CASE WHEN xor(${ts(a)}, ${ts(b)}) < 0 THEN $XW ELSE 0 END)"
  }

  private[queries] def xround8(h: String, k: String): String =
    xadd(xmul(xrot(xxor(h, xmul(xrot(xmul(k, XP2), 31), XP1)), 27), XP1), XP4)

  private[queries] def xround4(h: String, k: String): String =
    xadd(xmul(xrot(xxor(h, xmul(k, XP1)), 23), XP2), XP3)

  private[queries] def xround1(h: String, b: String): String =
    xmul(xrot(xxor(h, xmul(b, XP5)), 11), XP1)

  /** CTE chain computing h = xxhash64(word, seed=42) for every row of
    * a CTE `xw(word)` already in scope; exposes `xh(word, h)` with h
    * as an unsigned HUGEINT in [0, 2^64). */
  private[queries] def xxh64WordCtes: String = {
    val c8terms = (0 until 8)
      .map(j => s"bs[CAST(g*8 + ${j + 1} AS INT)] * ${BigInt(256).pow(j)}::HUGEINT")
      .mkString(" + ")
    val c4terms = (0 until 4)
      .map(j => s"bs[CAST((n//8)*8 + ${j + 1} AS INT)] * ${BigInt(256).pow(j)}::HUGEINT")
      .mkString(" + ")
    val tails = (1 to 7).map { i =>
      s""" xt$i AS (SELECT word, n, tl, CASE WHEN len(tl) >= $i THEN ${xround1("h", s"tl[$i]")} ELSE h END AS h FROM ${if (i == 1) "xs4" else s"xt${i - 1}"})"""
    }.mkString(",\n")
    // 2870177450012600303 = seed 42 + PRIME64_5
    // regime guard (ADVICE r12): this device only implements the
    // <32-byte single-lane XXH64 path over ASCII codepoints. A fixture
    // whose tokens breach either limit must FAIL LOUDLY with the cause
    // named, not surface as an opaque hash mismatch downstream —
    // error() aborts the whole oracle query with the offending word.
    s""" xb AS (SELECT word, length(word) AS n,
       |   list_transform(range(1, length(word)+1), i -> CAST(ord(substr(word, CAST(i AS INT), 1)) AS HUGEINT)) AS bs
       |   FROM xw
       |   WHERE CASE WHEN length(word) >= 32 OR regexp_matches(word, '[^\\x01-\\x7f]')
       |         THEN error('xxh64 twin regime violation (>=32 chars or non-ASCII): ' || word)
       |         ELSE TRUE END),
       | xch AS (SELECT word, n, bs,
       |   list_transform(range(0, n // 8), g -> $c8terms) AS c8,
       |   CASE WHEN n % 8 >= 4 THEN $c4terms END AS c4,
       |   list_slice(bs, (n//8)*8 + (CASE WHEN n % 8 >= 4 THEN 4 ELSE 0 END) + 1, n) AS tl
       |   FROM xb),
       | xs0 AS (SELECT word, n, c8, c4, tl, CAST((2870177450012600303::HUGEINT + n) % $XW AS HUGEINT) AS h FROM xch),
       | xs1 AS (SELECT word, n, c8, c4, tl, CASE WHEN len(c8) >= 1 THEN ${xround8("h", "c8[1]")} ELSE h END AS h FROM xs0),
       | xs2 AS (SELECT word, n, c8, c4, tl, CASE WHEN len(c8) >= 2 THEN ${xround8("h", "c8[2]")} ELSE h END AS h FROM xs1),
       | xs3 AS (SELECT word, n, c8, c4, tl, CASE WHEN len(c8) >= 3 THEN ${xround8("h", "c8[3]")} ELSE h END AS h FROM xs2),
       | xs4 AS (SELECT word, n, c4, tl, CASE WHEN c4 IS NOT NULL THEN ${xround4("h", "c4")} ELSE h END AS h FROM xs3),
       |$tails,
       | xa1 AS (SELECT word, ${xxor("h", "h // 8589934592")} AS h FROM xt7),
       | xa2 AS (SELECT word, ${xmul("h", XP2)} AS h FROM xa1),
       | xa3 AS (SELECT word, ${xxor("h", "h // 536870912")} AS h FROM xa2),
       | xa4 AS (SELECT word, ${xmul("h", XP3)} AS h FROM xa3),
       | xh AS MATERIALIZED (SELECT word, ${xxor("h", "h // 4294967296")} AS h FROM xa4)""".stripMargin
  }

  /** Loud regime guard for the IVF×PQ coarse-cents twins (round 13):
    * the Spark side now ranks stride points by xxhash64(vec_id) and
    * keeps kCoarse=256 (Similarity.hashRankedCentroids) — provably a
    * no-op while the stride count stays ≤ 256, which holds at every
    * shipped fixture and is what lets the twins keep replaying the
    * plain stride rule. A future fixture past the cap must FAIL
    * NAMING THE CAUSE, not surface as an opaque hash mismatch. */
  private[queries] def coarseGuardOn(table: String, extraWhere: String = ""): String =
    s" AND CASE WHEN (SELECT count(*) FROM $table WHERE vec_id % 10 = 0$extraWhere) > 256" +
      " THEN error('ivfpq coarse regime violation: stride cells exceed kCoarse=256," +
      " the twin replays the uncapped stride rule') ELSE TRUE END"

  /** The hashed-DSIR scored-docs chain (clean words → xxh64 buckets →
    * m=1024 bucket models with occupied-bucket smoothing → per-doc
    * DECIMAL folds), shared by the batch selection twin and the
    * streaming-gate twin — ONE validated chain, two final SELECTs
    * (rank cut vs threshold), so the two twins can never desync. */
  private[queries] lazy val hashedDsirScoredCtes: String =
    s"""WITH w0 AS (SELECT doc_id, lang, lower(regexp_replace(t.tok, '$P', '', 'g')) AS word
         |   FROM (SELECT doc_id, lang, unnest(string_split_regex(text, '[ \t\n\f\r]+')) AS tok FROM documents) t),
         | w AS (SELECT doc_id, lang, word FROM w0 WHERE length(word) > 0),
         | xw AS (SELECT DISTINCT word FROM w),
         |$xxh64WordCtes,
         | wb AS MATERIALIZED (SELECT doc_id, lang,
         |   ((CAST(CASE WHEN h >= 9223372036854775808::HUGEINT THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) % 1024) + 1024) % 1024 AS bucket
         |   FROM w JOIN xh USING (word)),
         | pw AS (SELECT doc_id, bucket FROM wb WHERE lang <> 'en'),
         | pc AS (SELECT bucket, count(*) AS pc FROM pw GROUP BY 1),
         | tc AS (SELECT bucket, count(*) AS tc FROM wb WHERE lang = 'en' GROUP BY 1),
         | vocab AS (SELECT bucket, coalesce(pc.pc, 0) AS pc, coalesce(tc.tc, 0) AS tc
         |   FROM (SELECT bucket FROM pc UNION SELECT bucket FROM tc) u LEFT JOIN pc USING (bucket) LEFT JOIN tc USING (bucket)),
         | sizes AS (SELECT sum(pc) AS np, sum(tc) AS nt, count(*) AS v FROM vocab),
         | delta AS (SELECT bucket,
         |   CAST(round(ln(CAST(tc + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE)), 12) AS DECIMAL(28,12))
         |   - CAST(round(ln(CAST(pc + 1 AS DOUBLE) / CAST(np + v AS DOUBLE)), 12) AS DECIMAL(28,12)) AS delta
         |   FROM vocab CROSS JOIN sizes),
         | scored AS (SELECT doc_id, count(*) AS n_tokens, sum(delta) AS sl
         |   FROM pw JOIN delta USING (bucket) GROUP BY 1)""".stripMargin

  /** The complete residual-encoded IVF×PQ query funnel as ONE DuckDB
    * twin (round 12): frozen stride-10 coarse cells → corpus residuals
    * in FLOAT arithmetic (Spark's zip_with subtracts float32s; the
    * cast to DOUBLE[] happens only at the dot products, mirroring
    * VecDot's per-element widening) → dense-ranked stride-50 residual
    * codebooks → argmin PQ encode → nProbe=12 probed cells with
    * per-(query, cell) residual L2 ADC tables → candidate scores as
    * ORDERED list_reduce folds (double addition is order-sensitive;
    * this matches VecAdcScore's sequential loop bit-for-bit) → 40-row
    * shortlist → exact cosine rerank. Parameterized by the cents/
    * codebook/query filters so ivf_pq_topk, the parquet-roundtrip
    * lifecycle, the frozen-geometry append AND the streaming ingest
    * all share one validated builder — the roundtrip/append/stream
    * variants MUST answer identically to the direct computation, which
    * is exactly what their oracles now assert. */
  private[queries] def ivfPqQueryTwinSql(centsWhere: String, bookWhere: String,
                                queryWhere: String): String =
    s"""WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
       | cents AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id % 10 = 0${coarseGuardOn("embeddings", centsWhere)}$centsWhere),
       | asg AS (SELECT v.vec_id, cell, row_number() OVER (PARTITION BY v.vec_id
       |   ORDER BY list_cosine_similarity(CAST(e AS DOUBLE[]), CAST(ce AS DOUBLE[])) DESC, cell) AS rn
       |   FROM v CROSS JOIN cents),
       | home AS MATERIALIZED (SELECT vec_id, cell FROM asg WHERE rn = 1),
       | res AS MATERIALIZED (SELECT v.vec_id, home.cell,
       |   list_transform(range(1, 65), i -> e[CAST(i AS INT)] - ce[CAST(i AS INT)]) AS r
       |   FROM v JOIN home ON home.vec_id = v.vec_id JOIN cents ON cents.cell = home.cell),
       | js AS (SELECT unnest(range(16)) AS j),
       | cb0 AS (SELECT r, row_number() OVER (ORDER BY vec_id) - 1 AS code FROM res WHERE vec_id % 50 = 0$bookWhere),
       | cb AS MATERIALIZED (SELECT code, j,
       |   CAST(r[CAST(j*4+1 AS INT):CAST(j*4+4 AS INT)] AS DOUBLE[]) AS cs
       |   FROM cb0 CROSS JOIN js WHERE code < 48),
       | sub AS (SELECT vec_id, j, CAST(r[CAST(j*4+1 AS INT):CAST(j*4+4 AS INT)] AS DOUBLE[]) AS s
       |   FROM res CROSS JOIN js),
       | d AS (SELECT vec_id, sub.j AS j, code,
       |   list_dot_product(s, cs) * -2.0 + list_dot_product(cs, cs) AS d
       |   FROM sub JOIN cb ON sub.j = cb.j),
       | codes AS MATERIALIZED (SELECT vec_id, j, code FROM (
       |   SELECT vec_id, j, code, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn FROM d) z
       |   WHERE rn = 1),
       | q AS (SELECT vec_id AS q_id, e FROM v WHERE $queryWhere),
       | qasg AS (SELECT q_id, cell, row_number() OVER (PARTITION BY q_id
       |   ORDER BY list_cosine_similarity(CAST(e AS DOUBLE[]), CAST(ce AS DOUBLE[])) DESC, cell) AS rn
       |   FROM q CROSS JOIN cents),
       | probe AS MATERIALIZED (SELECT q_id, cell FROM qasg WHERE rn <= 12),
       | qres AS (SELECT q_id, probe.cell,
       |   list_transform(range(1, 65), i -> e[CAST(i AS INT)] - ce[CAST(i AS INT)]) AS r
       |   FROM probe JOIN q USING (q_id) JOIN cents ON cents.cell = probe.cell),
       | qsub AS (SELECT q_id, cell, j, CAST(r[CAST(j*4+1 AS INT):CAST(j*4+4 AS INT)] AS DOUBLE[]) AS s
       |   FROM qres CROSS JOIN js),
       | qterm AS MATERIALIZED (SELECT q_id, cell, qsub.j AS j, code,
       |   list_dot_product(s, s) - list_dot_product(s, cs) * 2.0 + list_dot_product(cs, cs) AS term
       |   FROM qsub JOIN cb ON qsub.j = cb.j),
       | cand AS (SELECT q_id, home.vec_id AS c_id, probe.cell
       |   FROM probe JOIN home ON home.cell = probe.cell WHERE q_id <> home.vec_id),
       | sc AS (SELECT cand.q_id AS q_id, c_id,
       |   list_reduce(list_prepend(0.0, list(term ORDER BY c.j)), (acc, x) -> acc + x) AS dist
       |   FROM cand
       |   JOIN codes c ON c.vec_id = cand.c_id
       |   JOIN qterm t ON t.q_id = cand.q_id AND t.cell = cand.cell AND t.j = c.j AND t.code = c.code
       |   GROUP BY 1, 2),
       | short AS (SELECT q_id, c_id FROM (
       |   SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY dist ASC, c_id ASC) AS rn FROM sc) z
       |   WHERE rn <= 40),
       | resc AS (SELECT short.q_id, short.c_id,
       |   list_cosine_similarity(CAST(qv.e AS DOUBLE[]), CAST(cv.e AS DOUBLE[])) AS sim
       |   FROM short JOIN q qv ON qv.q_id = short.q_id JOIN v cv ON cv.vec_id = short.c_id),
       | rk AS (SELECT q_id, c_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank FROM resc)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, round(sim, 4) AS sim_r
       |FROM rk WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  /** Corpus-drift twin — shared by the batch and streaming
    * registrations (the stream maintains exactly the per-word
    * counter pair the batch aggregate builds). */
  private[queries] lazy val corpusDriftTwin: String =
      s"""WITH d AS (SELECT doc_id % 2 = 1 AS is_new,
         |    $CleanTokensSql AS ws
         |  FROM documents),
         | toks AS (SELECT is_new, unnest(ws) AS word FROM d),
         | m AS (SELECT word,
         |    count(*) FILTER (WHERE NOT is_new) AS c_old,
         |    count(*) FILTER (WHERE is_new) AS c_new
         |  FROM toks GROUP BY word),
         | scal AS (SELECT sum(c_old) + count(*) AS d_old, sum(c_new) + count(*) AS d_new FROM m)
         |SELECT word, c_old, c_new,
         | round(((c_new + 1) * 1.0 / d_new) *
         |       ln(((c_new + 1) * 1.0 / d_new) / ((c_old + 1) * 1.0 / d_old)), 12) AS drift
         |FROM m CROSS JOIN scal
         |ORDER BY drift DESC, word LIMIT 50""".stripMargin

  /** Trend-slopes twin — shared by the batch and streaming
    * registrations. */
  private[queries] lazy val trendSlopesTwin: String =
      """WITH daily AS (SELECT event_type AS key, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
        |               FROM events GROUP BY 1, 2),
        | d0 AS (SELECT key, min(day) AS day0 FROM daily GROUP BY key),
        | xy AS (SELECT d.key, CAST(date_diff('day', d0.day0, d.day) AS BIGINT) AS x, d.n AS y
        |        FROM daily d JOIN d0 ON d.key = d0.key),
        | m AS (SELECT key, count(*) AS n_days,
        |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
        |        FROM xy GROUP BY key),
        | f AS (SELECT key, n_days, sx, sy,
        |        CAST(n_days * sxy - sx * sy AS DOUBLE)
        |          / CAST(n_days * sxx - sx * sx AS DOUBLE) AS slope
        |        FROM m WHERE n_days >= 3 AND n_days * sxx - sx * sx <> 0)
        |SELECT key, n_days, round(slope, 6) AS slope,
        | round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n_days AS DOUBLE), 6) AS intercept
        |FROM f ORDER BY key""".stripMargin

  /** Rolling-anomaly twin — shared by the batch and streaming
    * registrations (the streaming daily relation converges to the
    * batch one exactly). */
  private[queries] lazy val rollingAnomalyTwin: String =
      """WITH daily AS (SELECT event_type AS key, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
        |               FROM events GROUP BY 1, 2),
        | f AS (SELECT key, day, n,
        |        count(n) OVER w AS n_prior,
        |        CAST(sum(n) OVER w AS BIGINT) AS sum_prior,
        |        CAST(sum(n * n) OVER w AS BIGINT) AS sumsq_prior
        |        FROM daily
        |        WINDOW w AS (PARTITION BY key ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        | g AS (SELECT key, day, n, n_prior, sum_prior, sumsq_prior,
        |        CAST(sum_prior AS DOUBLE) / CAST(n_prior AS DOUBLE) AS mean
        |        FROM f WHERE n_prior >= 4),
        | h AS (SELECT key, day, n, n_prior, mean,
        |        (CAST(sumsq_prior AS DOUBLE) - CAST(sum_prior AS DOUBLE) * mean)
        |          / CAST(n_prior - 1 AS DOUBLE) AS vr FROM g),
        | z AS (SELECT key, day, n, n_prior, mean,
        |        CASE WHEN vr > 0 THEN round((CAST(n AS DOUBLE) - mean) / sqrt(vr), 6) END AS z FROM h)
        |SELECT key, day, n, n_prior, round(mean, 6) AS mean_prior, z,
        | (z IS NOT NULL AND abs(z) > CAST(3.0 AS DOUBLE)) AS is_anomaly
        |FROM z ORDER BY key, day""".stripMargin

  /** SQL form of Cleaning.cardFixtureSuffix — shared by card_scrub
    * and the streaming clean-ingest twin. */
  private[queries] lazy val CardSuffixSql: String = {
    def arr(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("[", ", ", "]")
    def pick(xs: Seq[String]) = s"(${arr(xs)})[CAST((doc_id // 4) % ${xs.size} AS INT) + 1]"
    s"""CASE doc_id % 4
       |   WHEN 0 THEN ' pay ' || ${pick(Cleaning.TestCards)} || ' now'
       |   WHEN 1 THEN ' ref ' || ${pick(Cleaning.TestNonCards)} || ' code'
       |   WHEN 2 THEN ' card ' || ${pick(Cleaning.TestCards)} || ' and ' || ${pick(Cleaning.TestNonCards)} || ' tail'
       |   ELSE '' END""".stripMargin
  }

  /** The unicode_nfc fixture suffix (decomposed on purpose; explicit
    * escapes so no editor can recompose the source) — shared by
    * unicode_nfc and the streaming clean-ingest composition. */
  private[queries] def nfcSuffixCol(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(id % 3 === 0, lit(" cafe\u0301 touche\u0301"))
      .when(id % 3 === 1, lit(" A\u030Angstro\u0308m \u212B"))
      .otherwise(lit(" plain ascii"))

  private[queries] val NfcSuffixSql: String =
    """CASE doc_id % 3
      |  WHEN 0 THEN ' cafe' || chr(769) || ' touche' || chr(769)
      |  WHEN 1 THEN ' A' || chr(778) || 'ngstro' || chr(776) || 'm ' || chr(8491)
      |  ELSE ' plain ascii' END""".stripMargin

  /** The scrub CTE chain over a prebuilt `fx(doc_id, text)` — Luhn as
    * integer lambda arithmetic, redaction as a list_reduce fold. */
  private[queries] def cardScrubCtes(fxCte: String): String = {
    val ds = "replace(replace(x, ' ', ''), '-', '')"
    def dig = s"CAST(substring($ds, length($ds) - i + 1, 1) AS INT)"
    val luhn = s"(list_sum(list_transform(generate_series(1, length($ds)), i -> " +
      s"CASE WHEN i % 2 = 0 THEN CASE WHEN 2 * $dig > 9 THEN 2 * $dig - 9 ELSE 2 * $dig END " +
      s"ELSE $dig END)) % 10 = 0)"
    s"""$fxCte,
       | c AS (SELECT doc_id, text, regexp_extract_all(text, '\\b\\d(?:[ -]?\\d){12,18}\\b') AS cands FROM fx),
       | v AS (SELECT doc_id, text, cands, list_filter(cands, x -> $luhn) AS valids FROM c)""".stripMargin
  }

  private[queries] lazy val warcIngestTwinSql: String = {
    val ss = Html.SiteSpace
    s"""WITH w AS (SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS ws
       |  FROM documents)
       |SELECT 'https://' || ${sqlHost(s"doc_id%$ss")} || '/doc/' || doc_id AS url,
       | 1700000000 + doc_id AS fetch_ts,
       | CAST((len(ws) + 11) // 12 + 3 AS BIGINT) AS n_blocks,
       | CAST((len(ws) + 11) // 12 AS BIGINT) AS n_kept,
       | array_to_string(ws, ' ') AS main_text
       |FROM w ORDER BY url""".stripMargin
  }

  /** SFT twin scaffolding: rebuilds the [[graft.operators.PostTraining
    * .renderTranscripts]] turn relation CLOSED-FORM (the fixture is
    * pure arithmetic over doc_id/text), so the twins never replay the
    * renderer or the line parser — the hash proves both. */
  private[queries] val SftTurnsCtes: String =
    s"""WITH sft_d AS (SELECT doc_id, 2 + doc_id % 5 AS n, text FROM documents),
       | sft_i AS (SELECT doc_id, n, text,
       |   unnest(generate_series(1, n)) AS i FROM sft_d),
       | sft_r AS (SELECT doc_id AS conv_id, i AS turn_idx,
       |   CASE WHEN doc_id % 3 = 0 AND i = 1 THEN 'system'
       |        WHEN doc_id % 13 = 0 AND i = 2 THEN 'user'
       |        WHEN doc_id % 3 = 0 THEN (CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END)
       |        ELSE (CASE WHEN i % 2 = 1 THEN 'user' ELSE 'assistant' END) END AS role,
       |   doc_id, i, n, text FROM sft_i),
       | sft_turns AS (SELECT conv_id, turn_idx, role,
       |   CASE WHEN doc_id % 17 = 0 AND i = n THEN ''
       |        WHEN role = 'system' THEN 'sys ' || (doc_id % 11)
       |        WHEN role = 'assistant' THEN 'ans ' || (doc_id % 41) || ' t' || i
       |        ELSE 'ask ' || doc_id || ' t' || i || ' ' ||
       |          replace(substr(text, (i - 1) * 29 + 1, 23), chr(10), ' ') END AS content
       |   FROM sft_r)""".stripMargin

  /** The closed-form paragraph relation of the cookie-boilerplated
    * page fixture (12-word body slices + the shared constant from the
    * SAME Scala object the fixtures inject), shared by the
    * paragraph_dedup / streaming_paragraph_ingest / crawl_curation_e2e
    * twins. */
  private[queries] def ParaRelCtes: String = {
    val cookie = Html.BoilerFixturePara
      .stripPrefix("<p>").stripSuffix("</p>\n").replace("'", "''")
    s"""WITH w AS (SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS ws
       |  FROM documents),
       | np AS (SELECT doc_id, ws, CAST((len(ws) + 11) // 12 AS INT) AS n FROM w),
       | body AS (SELECT doc_id, i AS pos,
       |    array_to_string(list_slice(ws, (i-1)*12+1, i*12), ' ') AS para
       |  FROM np, unnest(generate_series(1, n)) AS u(i)),
       | paras AS (SELECT doc_id, 0 AS pos, '$cookie' AS para FROM w
       |   UNION ALL SELECT * FROM body)""".stripMargin
  }

  /** DuckDB twin of Corpus.hashPermille (affine char-sum of the first
    * 64 chars, mod 1000). Mirrors Spark's pmod — DuckDB's % is
    * sign-preserving, which diverges when the char sum goes negative
    * (codepoints < 14, e.g. leading tabs) — and coalesces the empty-list
    * NULL to 0, matching the aggregate fold's initial value. */
  private[queries] def HashPermille: String =
    "((coalesce(list_sum(list_transform(string_split(substring(text, 1, 64), ''), c -> 22 + 23 * (ascii(c) - 14))), 0) % 1000 + 1000) % 1000)"

  /** First 40 bits of an md5 hex string as a BIGINT — DuckDB has no
    * conv(hex), so the 10 hex digits expand to explicit
    * positional-weight terms (max value 2⁴⁰−1, overflow-free). Twin of
    * Spark's `conv(substring(md5(g), 1, 10), 16, 10)`. */
  private[queries] def HexInt40(e: String): String =
    (1 to 10).map { i =>
      val hv = s"(ascii(substring($e, $i, 1)) - CASE WHEN ascii(substring($e, $i, 1)) >= 97 THEN 87 ELSE 48 END)"
      // CAST before the weight multiply: DuckDB keeps ascii() INT32 and
      // does not promote, so 2³⁶-scale weights overflow without it
      s"CAST($hv AS BIGINT) * ${1L << (4 * (10 - i))}"
    }.mkString("(", " + ", ")")

  private[queries] def AllStopwordsSqlList: String =
    Corpus.AllStopwords.map(w => s"'$w'").mkString(",")

  /** The English stop list as a SQL list body, generated from the same
    * Scala object the Spark side gates on. */
  private[queries] lazy val EnStopsSqlList: String =
    TextQuality.Stopwords("en").map(w => s"'$w'").mkString(", ")

  /** packed_bpe's Spark side: each chunk's BPE token count under the
    * frozen merges, tokenized over the CHUNK-level vocabulary (a
    * boundary fragment tokenizes as itself, not as its parent word),
    * then packed 64 tokens a pack over 8 shards. */
  private[queries] def bpePackedChunks(ch: DataFrame): DataFrame = {
    val chunkWords = ch
      .select(col("doc_id"), col("chunk_idx"), explode(TextOps.rawTokens(col("chunk"))).as("tok"))
      .select(col("doc_id"), col("chunk_idx"), lower(col("tok")).as("word"))
    val perWord = chunkWords.select(col("word")).distinct()
      .select(col("word"), size(Bpe.tokens(col("word"), Bpe.DefaultMerges,
        Some(Bpe.DefaultAlphabet))).cast("long").as("n_toks"))
    val cb = chunkWords.join(perWord, Seq("word"))
      .groupBy(col("doc_id"), col("chunk_idx")).agg(sum(col("n_toks")).as("bpe_n"))
    val withTok = ch.join(cb, Seq("doc_id", "chunk_idx"), "left")
      .withColumn("n_tokens", coalesce(col("bpe_n"), lit(0L)))
    Corpus.packChunks(withTok, tokensPerPack = 64L, nShards = 8)
  }

  /** The ingest cycle's twin after WITH: the store anti-join over
    * `docs` (content hashes of even doc_ids seed the store), the
    * temperature rates from the per-lang counts of `profile`, the
    * hash-permille keep, and 256-char chunks of what is kept. */
  private[queries] def ingestCycleSql(docs: String, profile: String): String =
    s""" store AS (SELECT DISTINCT sha256(text) AS h FROM $docs WHERE doc_id % 2 = 0),
       | batch AS (SELECT sha256(text) AS h, min(doc_id) AS doc_id FROM $docs GROUP BY 1),
       | fresh AS (SELECT b.doc_id FROM batch b LEFT JOIN store s ON b.h = s.h WHERE s.h IS NULL),
       | dd AS (SELECT d.doc_id, d.lang, d.text FROM $docs d JOIN fresh f ON d.doc_id = f.doc_id),
       | n AS (SELECT lang, count(*) AS n_l FROM $profile GROUP BY lang),
       | r AS (SELECT lang, CAST(floor(1000.0 * sqrt((SELECT CAST(min(n_l) AS DOUBLE) FROM n))
       |   / sqrt(CAST(n_l AS DOUBLE))) AS BIGINT) AS keep_permille FROM n),
       | kept AS (SELECT dd.doc_id, dd.lang, dd.text FROM dd JOIN r ON dd.lang = r.lang
       |          WHERE $HashPermille < r.keep_permille),
       | c AS (SELECT doc_id, lang, text,
       |   CAST(ceil(length(text) / 256.0) AS BIGINT) AS n_chunks FROM kept),
       | u AS (SELECT doc_id, lang, text, n_chunks,
       |   unnest(generate_series(0, n_chunks - 1)) AS chunk_idx FROM c)
       |SELECT doc_id, lang, chunk_idx,
       | substring(text, CAST(chunk_idx * 256 + 1 AS INT), 256) AS chunk
       |FROM u ORDER BY doc_id, chunk_idx""".stripMargin

  /** DSIR's per-doc scores (`scored`: doc_id, n_tokens, sl): add-1
    * unigram models of pool (lang<>'en') and target ('en') over the
    * union vocab, per-word Δ of rounded(12) lns subtracted as DECIMALs,
    * per-doc DECIMAL sums. */
  private[queries] lazy val DsirScoredCtes: String =
    s"""WITH w0 AS (SELECT doc_id, lang, lower(regexp_replace(t.tok, '$P', '', 'g')) AS word
       |   FROM (SELECT doc_id, lang, unnest(string_split_regex(text, '[ \\t\\n\\f\\r]+')) AS tok FROM documents) t),
       | w AS (SELECT doc_id, lang, word FROM w0 WHERE length(word) > 0),
       | pw AS (SELECT doc_id, word FROM w WHERE lang <> 'en'),
       | pc AS (SELECT word, count(*) AS pc FROM pw GROUP BY 1),
       | tc AS (SELECT word, count(*) AS tc FROM w WHERE lang = 'en' GROUP BY 1),
       | vocab AS (SELECT word, coalesce(pc.pc, 0) AS pc, coalesce(tc.tc, 0) AS tc
       |   FROM (SELECT word FROM pc UNION SELECT word FROM tc) u LEFT JOIN pc USING (word) LEFT JOIN tc USING (word)),
       | sizes AS (SELECT sum(pc) AS np, sum(tc) AS nt, count(*) AS v FROM vocab),
       | delta AS (SELECT word,
       |   CAST(round(ln(CAST(tc + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE)), 12) AS DECIMAL(28,12))
       |   - CAST(round(ln(CAST(pc + 1 AS DOUBLE) / CAST(np + v AS DOUBLE)), 12) AS DECIMAL(28,12)) AS delta
       |   FROM vocab CROSS JOIN sizes),
       | scored AS (SELECT doc_id, count(*) AS n_tokens, sum(delta) AS sl
       |   FROM pw JOIN delta USING (word) GROUP BY 1)""".stripMargin

  /** The url_strip_tracking fixture URL: each doc triple
    * m = doc_id - doc_id % 3 shares one resource URL but carries
    * different click-attribution junk (utm_*, gclid, fbclid) and a
    * different REAL-param order. */
  private[queries] def trackedUrl: Column = {
    val id = col("doc_id")
    val m = id - (id % 3)
    val base = concat(lit("https://"), Html.fixtureHost(m % Html.SiteSpace),
      lit("/doc/"), m.cast("string"))
    when(id % 3 === 0,
        concat(base, lit("?page=2&utm_source=feed&a=1&utm_campaign=c"), id.cast("string")))
      .when(id % 3 === 1,
        concat(base, lit("?a=1&gclid=g"), id.cast("string"), lit("&page=2")))
      .otherwise(concat(base, lit("?page=2&a=1&fbclid=f"), id.cast("string")))
  }

  /** The UT1-style blocklist fixture over the host keys `ks` (k): whole
    * hosts at k % 7 == 0, the /doc/1 prefix at k % 5 == 0, and one
    * public-suffix host with the /doc/7 prefix. */
  private[queries] def blocklistRules(ks: DataFrame): DataFrame =
    ks.where(col("k") % 7 === 0)
        .select(Html.fixtureHost(col("k")).as("host"), lit("").as("prefix"))
      .unionByName(ks.where(col("k") % 5 === 0)
        .select(Html.fixtureHost(col("k")).as("host"), lit("/doc/1").as("prefix")))
      .unionByName(ks.sparkSession.range(1)
        .select(lit("shop.example.co.uk").as("host"), lit("/doc/7").as("prefix")))

  /** The cleaned-token list of `text` as one DuckDB expression
    * (whitespace split, ispunct strip, lowercase, empties dropped): the
    * twin of TextOps.cleanTokens. Its continuation lines carry the
    * indent of the twins that share it. */
  private[queries] lazy val CleanTokensSql: String =
    s"""list_filter(list_transform(
       |      list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), t -> length(t) > 0),
       |      t -> lower(regexp_replace(t, '$P', '', 'g'))), w -> length(w) > 0)""".stripMargin

  /** The conversation audit's `ok` column closing `aud` over `prevr`,
    * then the ordered assistant-response fingerprints `fp`: shared by
    * the SFT admission twins. */
  private[queries] val SftOkFpCtes: String =
    """   (sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) = 0
      |    AND coalesce(min(CASE WHEN role = 'user' THEN turn_idx END) <
      |      coalesce(min(CASE WHEN role = 'assistant' THEN turn_idx END),
      |        9223372036854775807), FALSE)
      |    AND arg_max(role, turn_idx) = 'assistant'
      |    AND max(CASE WHEN content = '' THEN 1 ELSE 0 END) = 0
      |  AND sum(CASE WHEN role = 'invalid' THEN 1 ELSE 0 END) = 0) AS ok
      |   FROM prevr GROUP BY conv_id),
      | fp AS (SELECT conv_id, md5(string_agg(md5(content), '' ORDER BY turn_idx)) AS resp_fp
      |   FROM sft_turns WHERE role = 'assistant' GROUP BY conv_id),""".stripMargin
}
