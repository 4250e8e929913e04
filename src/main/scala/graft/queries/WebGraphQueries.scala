package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import graft.plans.Lineage.TruncateOps
import graft.QuerySpec.Q
import graft.SparkEntry._
import graft.queries.Twins._

/** LLM-pipeline operators, part 4: HTML extraction, link graphs, WARC
  * ingest, URL and domain handling, and charsets. */
object WebGraphQueries {
  val specs: Seq[QuerySpec] = Seq(
    // web-corpus front door: each doc is wrapped in a deterministic
    // boilerplated page (link-dense title/nav/footer chrome, body in
    // <p> paragraphs, entities escaped), then the Arc90/jusText-class
    // block + link-density extractor recovers the main text. Chrome is
    // 100% anchors → dropped; prose has none → kept; the oracle
    // asserts lossless recovery of the whitespace-collapsed text plus
    // the exact block bookkeeping (paras + 3 chrome blocks)
    Q("html_extract", (s, d) =>
      Html.extractMain(Html.pageFromDocs(t(s, d).documents)).orderBy("doc_id"))(
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS ws
        |  FROM documents)
        |SELECT doc_id,
        | CAST((len(ws) + 11) // 12 + 3 AS BIGINT) AS n_blocks,
        | CAST((len(ws) + 11) // 12 AS BIGINT) AS n_kept,
        | array_to_string(ws, ' ') AS main_text
        |FROM w ORDER BY doc_id""".stripMargin),
    // page-level robots directives planted into the fixture head by
    // doc_id rule; the Spark side must PARSE them back out of the full
    // page — the twin is the closed-form rule (the html_entities
    // device), so the hash proves the extraction end to end
    Q("meta_robots", (s, d) => {
      val pages = Html.pageFromDocs(t(s, d).documents)
      val directive = when(col("doc_id") % 4 === 0, lit("noindex"))
        .when(col("doc_id") % 4 === 1, lit("noindex, nofollow"))
        .when(col("doc_id") % 4 === 2, lit("index, follow"))
      val fx = pages.select(col("doc_id"),
        when(directive.isNotNull,
          replace(col("html"), lit("<head>"),
            concat(lit("<head>\n<meta name=\"robots\" content=\""), directive, lit("\">"))))
          .otherwise(col("html")).as("html"))
      Html.metaRobots(fx).orderBy("doc_id")
    })(
      // the closed-form directive rule the fixture planted — the Spark
      // side must parse it back out of the page to hash-match
      """SELECT doc_id,
        | CASE doc_id % 4 WHEN 0 THEN 'noindex' WHEN 1 THEN 'noindex, nofollow'
        |                 WHEN 2 THEN 'index, follow' ELSE '' END AS directive,
        | doc_id % 4 IN (0, 1) AS noindex,
        | doc_id % 4 = 1 AS nofollow
        |FROM documents ORDER BY doc_id""".stripMargin),
    // rendezvous sharding stability: assignments at 8 and at 9 shards
    // side by side — every mover must land on the NEW shard, and only
    // ~1/9 of docs move (mod-N would reshuffle 8/9)
    Q("rendezvous_shards", (s, d) => {
      val docs = t(s, d).documents.select(col("doc_id"))
      Corpus.rendezvousShard(
          Corpus.rendezvousShard(docs, 8, "shard8"), 9, "shard9")
        .select(col("doc_id"), col("shard8"), col("shard9"),
          (col("shard8") =!= col("shard9")).as("moved"))
        .orderBy("doc_id")
    }) {
      // the HRW argmax replayed: same "docId:shard" md5-prefix hash
      // (HexInt40), max by (h, s) as a window rank per shard count
      def pick(n: Int, out: String) =
        s"""(SELECT doc_id, s AS $out FROM (
           |  SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id ORDER BY ${HexInt40(s"md5(doc_id || ':' || s)")} DESC, s DESC) AS rn
           |  FROM documents, unnest(generate_series(0, ${n - 1})) AS t(s)) WHERE rn = 1)""".stripMargin
      s"""SELECT a.doc_id, CAST(a.shard8 AS BIGINT) AS shard8,
         | CAST(b.shard9 AS BIGINT) AS shard9, a.shard8 <> b.shard9 AS moved
         |FROM ${pick(8, "shard8")} a JOIN ${pick(9, "shard9")} b USING (doc_id)
         |ORDER BY a.doc_id""".stripMargin
    },
    // the full entity decoder under load: the page fixture with an
    // entity-rich paragraph injected at the top of the body — named,
    // decimal, hex, double-escaped, unknown-name and invalid-codepoint
    // references all decode (or deliberately survive) per the HTML
    // one-pass rule; the twin inlines the closed-form decoded constant
    Q("html_entities", (s, d) => {
      val pages = Html.pageFromDocs(t(s, d).documents)
        .select(col("doc_id"),
          regexp_replace(col("html"), "<div>\n",
            java.util.regex.Matcher.quoteReplacement("<div>\n" + Html.EntityFixtureRaw))
            .as("html"))
      Html.extractMain(pages).orderBy("doc_id")
    }) {
      // html_extract plus one injected kept block whose decoded form is
      // a compile-time constant from the SAME Scala object the fixture
      // injects raw — the hash proves the entity decoder end to end
      val dec = Html.EntityFixtureDecoded.replace("'", "''")
      s"""WITH w AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS ws
         |  FROM documents)
         |SELECT doc_id,
         | CAST((len(ws) + 11) // 12 + 4 AS BIGINT) AS n_blocks,
         | CAST((len(ws) + 11) // 12 + 1 AS BIGINT) AS n_kept,
         | CASE WHEN len(ws) > 0 THEN '$dec' || ' ' || array_to_string(ws, ' ')
         |      ELSE '$dec' END AS main_text
         |FROM w ORDER BY doc_id""".stripMargin
    },
    // crawl-graph builder: /doc/<id> hrefs parsed out of the raw
    // markup → deduped directed edges (the twin derives the same graph
    // from the fixture's closed-form link targets, so the hash proves
    // the extraction)
    Q("html_outlinks", (s, d) =>
      Html.outlinks(Html.pageFromDocs(t(s, d).documents)).orderBy("src", "dst"))(
      // the extractor provably inverts the page fixture: main_text is
      // the whitespace-collapsed document text, n_kept the paragraph
      // count (12 words each), n_blocks adds the 3 chrome blocks
      // (title/nav/footer) that the link-density gate drops
      outlinksTwinSql),
    // link-authority quality prior over the EXTRACTED graph — the
    // wordcount→inverted-index→PageRank MapReduce trilogy, fed by the
    // engine's own HTML ingestion instead of a prebuilt edge table
    Q("crawl_rank", (s, d) =>
      Graph.pageRank(Html.outlinks(Html.pageFromDocs(t(s, d).documents))).orderBy("node"))(pageRankUnrolled(CrawlEdgesCte)),
    // hubs-and-authorities over the same extracted graph: the frontier
    // wants BOTH scores — schedule fetches by hub (directory pages
    // surface new links), keep documents by auth (content pages)
    Q("hits_rank", (s, d) =>
      Graph.hits(Html.outlinks(Html.pageFromDocs(t(s, d).documents))).orderBy("node"))(hitsUnrolled(CrawlEdgesCte)),
    // edge-weighted authority: rank splits across out-links by link
    // MULTIPLICITY (three nav slots vouching for one target beat a
    // single mention) instead of uniformly
    Q("weighted_rank", (s, d) =>
      Graph.weightedPageRank(
        Html.outlinksWeighted(Html.pageFromDocs(t(s, d).documents))).orderBy("node")) {
      // weighted-PR twin: multiplicity edges from the same t CTE (no
      // DISTINCT), contribution = round(rank·w/wsum, 12)
      val pre =
        s"""WITH $CrawlEdgesBody,
           | ew AS (SELECT doc_id AS src, dst, count(*) AS w FROM t WHERE dst <> doc_id GROUP BY 1, 2),
           | nodes AS (SELECT DISTINCT src AS node FROM ew UNION SELECT DISTINCT dst AS node FROM ew),
           | deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum FROM ew GROUP BY src),
           | nn AS (SELECT count(*) AS n FROM nodes),
           | r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes)""".stripMargin
      val iters = (1 to 5).map { i =>
        s""" r$i AS (SELECT nodes.node,
           |   (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
           |     + CAST(0.85 AS DOUBLE) * CAST(coalesce(c.s, 0) AS DOUBLE) AS rank
           |  FROM nodes LEFT JOIN (
           |    SELECT e.dst AS node, sum(CAST(round(r.rank * CAST(e.w AS DOUBLE) / CAST(deg.wsum AS DOUBLE), 12) AS DECIMAL(38,12))) AS s
           |    FROM r${i - 1} r JOIN deg ON deg.src = r.node JOIN ew e ON e.src = r.node
           |    GROUP BY e.dst) c ON c.node = nodes.node)""".stripMargin
      }.mkString(",\n")
      s"$pre,\n$iters\nSELECT node, round(rank, 8) AS wpr FROM r5 ORDER BY node"
    },
    // spam-ring tell: nodes mutually reachable within 3 directed hops
    // over the extracted link graph, labeled by minimum ring member
    Q("link_rings", (s, d) =>
      Graph.linkRings(Html.outlinks(Html.pageFromDocs(t(s, d).documents)), maxHops = 3)
        .orderBy("node"))(
      // bounded-hop reach by LEVEL (distinct per expansion), mutuality
      // as a symmetric self-join, then transitive min-label closure over
      // the mutual-pair graph (the dedup_clusters recursive device) so
      // a ring that closes only through distant pairs labels consistently
      s"""WITH RECURSIVE $CrawlEdgesBody,
         | r1 AS (SELECT DISTINCT src AS u, dst AS v FROM edges WHERE src <> dst),
         | r2 AS (SELECT DISTINCT u, v FROM (SELECT a.u, b.v FROM r1 a JOIN r1 b ON a.v = b.u
         |         UNION SELECT u, v FROM r1) z WHERE u <> v),
         | r3 AS (SELECT DISTINCT u, v FROM (SELECT a.u, b.v FROM r2 a JOIN r1 b ON a.v = b.u
         |         UNION SELECT u, v FROM r2) z WHERE u <> v),
         | m AS (SELECT a.u AS node, a.v AS peer FROM r3 a JOIN r3 b ON a.u = b.v AND a.v = b.u),
         | nn AS (SELECT DISTINCT node FROM m),
         | reach AS (SELECT node, node AS label FROM nn
         |           UNION SELECT m.node, reach.label FROM m JOIN reach ON reach.node = m.peer)
         |SELECT node, min(label) AS ring_id FROM reach GROUP BY node ORDER BY node""".stripMargin),
    // TrustRank: teleport only to curator-vouched seeds (every 50th
    // doc) — link farms with no seed path score ~0; the spam-resistant
    // authority prior a raw crawl needs
    Q("trust_rank", (s, d) =>
      Graph.personalizedPageRank(
        Html.outlinks(Html.pageFromDocs(t(s, d).documents)),
        t(s, d).documents.where(col("doc_id") % 50 === 0).select(col("doc_id").as("node")))
        .orderBy("node"))(trustRankUnrolled(CrawlEdgesCte)),
    // site-cluster discovery: undirected connected components over the
    // extracted link graph — large-star/small-star (Graph
    // .starComponents), the O(log n)-round formulation a real crawl
    // graph needs (min-label's O(diameter) is fine for shallow
    // near-dup families, where Dedup keeps using it: one join+agg per
    // round vs star's two — but crawl chains are unbounded)
    Q("crawl_components", (s, d) => {
      val edges = Html.outlinks(Html.pageFromDocs(t(s, d).documents))
      val pairs = edges.select(col("src").as("doc_a"), col("dst").as("doc_b"))
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      Graph.starComponents(pairs, nodes, idCol = "node")
        .select(col("doc_id").as("node"), col("cluster_id"))
        .orderBy("node")
    })(
      // undirected closure over the closed-form crawl edges — min label
      // reachable in either direction is the component id
      s"""WITH RECURSIVE $CrawlEdgesBody,
         | e AS (SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges),
         | nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst AS node FROM edges),
         | reach(node, label) AS (
         |   SELECT node, node FROM nodes
         |   UNION
         |   SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.node
         | )
         |SELECT node, min(label) AS cluster_id FROM reach GROUP BY node ORDER BY node""".stripMargin),
    // deterministic synchronous LPA over the crawl graph: the
    // community level between components (one bridge merges all) and
    // k-core (structure, not membership); fixed-tie mode, 4 rounds
    Q("lpa_communities", (s, d) => {
      val edges = Html.outlinks(Html.pageFromDocs(t(s, d).documents))
      Graph.lpaCommunities(edges).orderBy("node")
    }) {
      // the 4 LPA rounds unrolled as CTEs (the kmeans device); mode =
      // row_number over (cnt DESC, label ASC) — Spark's max_by struct
      def round(i: Int, prev: String) =
        s""" r$i AS (SELECT u.src AS node, l.label, count(*) AS cnt
           |   FROM und u JOIN $prev l ON u.dst = l.node GROUP BY 1, 2),
           | l$i AS (SELECT node, label FROM (
           |   SELECT node, label, row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
           |   FROM r$i) WHERE rn = 1)""".stripMargin
      s"""WITH $CrawlEdgesBody,
         | und AS (SELECT DISTINCT src, dst FROM
         |   (SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges)),
         | l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
         |${round(1, "l0")},
         |${round(2, "l1")},
         |${round(3, "l2")},
         |${round(4, "l3")}
         |SELECT node, label AS community FROM l4 ORDER BY node""".stripMargin
    },
    // small-sample-honest source ranking: Wilson lower bound of the
    // gate pass rate — 3/3 must not outrank 180/200
    Q("source_quality_wilson", (s, d) =>
      TextQuality.sourceQualityWilson(t(s, d).documents).orderBy("quality_rank")) {
      // the same gate CTEs as corpus_card, per source; the Wilson bound
      // is one fixed float expression over exact integers with literal
      // z-constants — identical shape in both engines
      val pd = "CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE)"
      val nd = "CAST(n_docs AS DOUBLE)"
      s"""WITH gf AS (SELECT doc_id, source, CAST(len(tkl) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(tkl, x -> length(x))) AS DOUBLE) / len(tkl) AS mean_word_len,
         |    CAST(len(list_filter(tkl, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(tkl) AS alpha_frac,
         |    CAST(len(list_filter(tkl, x -> list_contains([$EnStopsSqlList], lower(x)))) AS BIGINT) AS n_stop_hits
         |   FROM (SELECT doc_id, source, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS tkl FROM documents) z),
         | per AS (SELECT source, count(*) AS n_docs,
         |    CAST(count(*) FILTER (WHERE n_words BETWEEN 50 AND 100000 AND mean_word_len >= 3.0
         |      AND mean_word_len <= 10.0 AND alpha_frac >= 0.8 AND n_stop_hits >= 2) AS BIGINT) AS n_pass
         |   FROM gf GROUP BY 1),
         | w AS (SELECT source, n_docs, n_pass,
         |    round($pd, 6) AS pass_rate,
         |    round(($pd + 1.9208 / $nd
         |      - 1.96 * sqrt(($pd * (1.0 - $pd) + 0.9604 / $nd) / $nd))
         |      / (1.0 + 3.8416 / $nd), 9) AS wilson_lb
         |   FROM per)
         |SELECT source, n_docs, n_pass, pass_rate, wilson_lb,
         | CAST(row_number() OVER (ORDER BY wilson_lb DESC, source) AS BIGINT) AS quality_rank
         |FROM w ORDER BY quality_rank""".stripMargin
    },
    // 2-core of the crawl graph: iterative peeling separates the
    // interlinked site core from pendant tendrils; fixed rounds, the
    // twin unrolls the same peels as CTEs (the page_rank device)
    Q("kcore_nodes", (s, d) => {
      val edges = Html.outlinks(Html.pageFromDocs(t(s, d).documents))
      Graph.kCore(edges, k = 2, rounds = KCoreRounds).orderBy("node")
    })(kCoreTwinSql),
    // power-law sanity: log2-binned undirected degree histogram of
    // the crawl graph — bucket from the BINARY-STRING length (exact
    // in both engines; log2 at power-of-two boundaries is not)
    Q("degree_dist", (s, d) => {
      val edges = Html.outlinks(Html.pageFromDocs(t(s, d).documents))
      val e = edges.select(col("src").as("a"), col("dst").as("b"))
        .where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct()
      e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .select((length(bin(col("deg"))) - 1).cast("long").as("bucket"), col("deg"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
          max(col("deg")).as("max_deg"))
        .orderBy("bucket")
    })(
      // log2 bucket from the binary-string length — exact in both
      // engines where float log2 at 2^k boundaries is not
      s"""$CrawlEdgesCte,
         | e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM edges WHERE src <> dst),
         | d AS (SELECT node, count(*) AS deg
         |       FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e) z GROUP BY 1),
         | k AS (SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket, deg FROM d)
         |SELECT bucket, count(*) AS n_nodes, min(deg) AS min_deg, max(deg) AS max_deg
         |FROM k GROUP BY 1 ORDER BY 1""".stripMargin),
    // per-node triangle support via (deg, id)-oriented wedge
    // enumeration — out-degree-bounded wedges, one equi-join closure.
    // Graph: part co-purchase (parts sharing an order) — the dense
    // community structure the crawl fixture's link arithmetic lacks
    Q("triangle_count", (s, d) => {
      val edges = copurchaseEdges(s, d)
      Graph.triangleCounts(edges).orderBy("node")
    })(
      // the canonical u<v<w three-way join — same triangle set the
      // oriented wedge enumeration produces, corners exploded
      s"""$CopurchaseEdgeCtes
         | tri AS (SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
         |         FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
         |         JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
         | x AS (SELECT n1 AS node FROM tri
         |       UNION ALL SELECT n2 FROM tri
         |       UNION ALL SELECT n3 FROM tri)
         |SELECT node, count(*) AS triangles FROM x GROUP BY 1 ORDER BY node""".stripMargin),
    // one-row graph census: nodes/edges/triangles/wedges and global
    // transitivity 3·tri/wedges (node-incident triangle sum IS 3·tri)
    Q("graph_summary", (s, d) => {
      val edges = copurchaseEdges(s, d)
      val e = edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .where(col("a") =!= col("b")).distinct().truncateLineage
      val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val triSum = Graph.triangleCounts(e, "a", "b", assumeCanonical = true)
        .agg(coalesce(sum(col("triangles")), lit(0L)).as("tri3"))
      val degStats = deg.agg(count(lit(1)).as("n_nodes"), max(col("deg")).as("max_deg"),
        sum(expr("(deg * (deg - 1)) div 2")).as("wedges"))
      val nEdges = e.agg(count(lit(1)).as("n_edges"))
      degStats.crossJoin(broadcast(nEdges)).crossJoin(broadcast(triSum))
        .select(col("n_nodes"), col("n_edges"), col("max_deg"), col("wedges"),
          (col("tri3") / 3).cast("long").as("n_triangles"),
          round(col("tri3").cast("double") / col("wedges").cast("double"), 6)
            .as("transitivity"))
    })(
      // node-incident triangle sum = 3·|triangles|; wedges in integer
      // div; transitivity one rounded division
      s"""$CopurchaseEdgeCtes
         | deg AS (SELECT node, count(*) AS deg
         |         FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e) z GROUP BY 1),
         | tri AS (SELECT e1.a AS n1 FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
         |         JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
         | t3 AS (SELECT CAST(count(*) * 3 AS BIGINT) AS tri3 FROM tri),
         | ds AS (SELECT count(*) AS n_nodes, CAST(max(deg) AS BIGINT) AS max_deg,
         |        CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS wedges FROM deg),
         | ne AS (SELECT count(*) AS n_edges FROM e)
         |SELECT ds.n_nodes, ne.n_edges, ds.max_deg, ds.wedges,
         | t3.tri3 // 3 AS n_triangles,
         | round(CAST(t3.tri3 AS DOUBLE) / CAST(ds.wedges AS DOUBLE), 6) AS transitivity
         |FROM ds CROSS JOIN ne CROSS JOIN t3""".stripMargin),
    // community-vs-hub discriminator: 2·tri/d(d−1) on the same graph
    Q("clustering_coeff", (s, d) => {
      val edges = copurchaseEdges(s, d)
      Graph.clusteringCoefficients(edges).orderBy("node")
    })(
      // same triangle CTEs + the degree census; 2·tri/d(d−1) one
      // rounded division, degree-<2 nodes report 0
      s"""$CopurchaseEdgeCtes
         | deg AS (SELECT node, count(*) AS deg
         |         FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e) z GROUP BY 1),
         | tri AS (SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
         |         FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
         |         JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
         | tc AS (SELECT node, count(*) AS triangles
         |        FROM (SELECT n1 AS node FROM tri
         |              UNION ALL SELECT n2 FROM tri
         |              UNION ALL SELECT n3 FROM tri) z GROUP BY 1)
         |SELECT d.node, d.deg, coalesce(tc.triangles, 0) AS triangles,
         | CASE WHEN d.deg >= 2
         |      THEN round(CAST(coalesce(tc.triangles, 0) * 2 AS DOUBLE)
         |             / CAST(d.deg * (d.deg - 1) AS DOUBLE), 6)
         |      ELSE 0.0 END AS coeff
         |FROM deg d LEFT JOIN tc ON d.node = tc.node ORDER BY d.node""".stripMargin),
    // week-over-week volume report per event type: lag to the
    // previous OBSERVED week, exact counts, one rounded division
    Q("wow_change", (s, d) => {
      val wk = t(s, d).events
        .groupBy(col("event_type"), date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(count(lit(1)).as("n"))
      wk.withColumn("prev_n",
          lag(col("n"), 1).over(Window.partitionBy(col("event_type")).orderBy(col("week"))))
        .withColumn("pct_change",
          when(col("prev_n").isNotNull,
            round((col("n") - col("prev_n")).cast("double")
              / col("prev_n").cast("double") * lit(100.0), 4)))
        .orderBy("event_type", "week")
    })(
      // Monday-truncated weeks both engines; lag to the previous
      // OBSERVED week; one rounded division
      """WITH wk AS (SELECT event_type, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week,
        |            count(*) AS n FROM events GROUP BY 1, 2),
        | l AS (SELECT event_type, week, n,
        |       lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n FROM wk)
        |SELECT event_type, week, n, prev_n,
        | CASE WHEN prev_n IS NOT NULL
        |      THEN round(CAST(n - prev_n AS DOUBLE) / CAST(prev_n AS DOUBLE) * 100.0, 4) END AS pct_change
        |FROM l ORDER BY event_type, week""".stripMargin),
    // market-basket lift over (user, day) event-type sets: lift =
    // n_ab·N / (n_a·n_b) — exact integer numerator and denominator,
    // one rounded division; sequences are event_paths' job, SETS are
    // this one's
    Q("basket_lift", (s, d) => {
      val b = t(s, d).events
        .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type")).distinct()
        .truncateLineage
      val nTotal = b.select(col("user_id"), col("day")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val per = b.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
      val pairs = b.as("x").join(b.as("y"),
          col("x.user_id") === col("y.user_id") && col("x.day") === col("y.day")
            && col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(per.select(col("event_type").as("ta"), col("n_t").as("n_a")), "ta")
        .join(per.select(col("event_type").as("tb"), col("n_t").as("n_b")), "tb")
        .crossJoin(broadcast(nTotal))
        .select(col("ta"), col("tb"), col("n_ab"), col("n_a"), col("n_b"),
          round((col("n_ab") * col("n_baskets")).cast("double")
            / (col("n_a") * col("n_b")).cast("double"), 6).as("lift"))
        .orderBy("ta", "tb")
    })(
      """WITH b AS (SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type FROM events),
        | nt AS (SELECT count(*) AS n_baskets FROM (SELECT DISTINCT user_id, day FROM b) z),
        | per AS (SELECT event_type, count(*) AS n_t FROM b GROUP BY 1),
        | pr AS (SELECT x.event_type AS ta, y.event_type AS tb, count(*) AS n_ab
        |        FROM b x JOIN b y ON x.user_id = y.user_id AND x.day = y.day
        |          AND x.event_type < y.event_type
        |        GROUP BY 1, 2)
        |SELECT pr.ta, pr.tb, pr.n_ab, pa.n_t AS n_a, pb.n_t AS n_b,
        | round(CAST(pr.n_ab * nt.n_baskets AS DOUBLE) / CAST(pa.n_t * pb.n_t AS DOUBLE), 6) AS lift
        |FROM pr JOIN per pa ON pr.ta = pa.event_type JOIN per pb ON pr.tb = pb.event_type
        |CROSS JOIN nt ORDER BY pr.ta, pr.tb""".stripMargin),
    // the crawl pipeline starting where real crawls start: WARC-shaped
    // record containers (header block + Content-Length + payload +
    // terminators, concatenated per container file) are SPLIT by
    // byte-exact length framing, then the proven boilerplate extractor
    // runs on the recovered html. The twin rebuilds (url, ts,
    // collapsed text) closed-form — the hash proves framing recovered
    // every record byte-exactly
    Q("warc_ingest", (s, d) => {
      val docs = t(s, d).documents
      val withMeta = warcMeta(Html.pageFromDocs(docs))
      val recs = graft.sources.Warc.records(
        graft.sources.Warc.containersFromDocs(withMeta, nContainers = 8))
      Html.extractMain(recs.drop("truncated"), idCol = "url")
        .select(col("doc_id").as("url"), col("fetch_ts"),
          col("n_blocks"), col("n_kept"), col("main_text"))
        .orderBy("url")
    })(
      // container framing + extraction: expected records rebuilt
      // closed-form (url and fetch_ts from doc_id arithmetic, main_text
      // the proven lossless collapse) — equality means the byte framing
      // recovered every record exactly
      warcIngestTwinSql),
    // the SAME front door over record-gzipped containers (the real
    // crawl-archive layout: each record independently deflated with
    // Content-Encoding: gzip in its header and Content-Length
    // counting the COMPRESSED payload, so containers stay splittable
    // at record bounds) — the parser inflates per record and the
    // chain must reproduce warc_ingest exactly; one twin serves both
    Q("warc_gzip_ingest", (s, d) => {
      val docs = t(s, d).documents
      val withMeta = warcMeta(Html.pageFromDocs(docs))
      val recs = graft.sources.Warc.records(
        graft.sources.Warc.containersFromDocs(withMeta, nContainers = 8, gzip = true))
      Html.extractMain(recs.drop("truncated"), idCol = "url")
        .select(col("doc_id").as("url"), col("fetch_ts"),
          col("n_blocks"), col("n_kept"), col("main_text"))
        .orderBy("url")
    })(
      // record-gzipped containers inflate back to the identical record
      // stream — the same twin is the decompression proof
      warcIngestTwinSql),
    // MULTI-SIGNAL dedup fusion — the entity-resolution step after
    // the individual signals: exact-hash cliques (re-hosted copies
    // planted at id+10000) and canonical families (the id−id%3
    // triples) rarely agree on their own, so their edge UNION runs
    // through large-star/small-star components and every doc gets ONE
    // family id. Copies chain INTO canonical families through their
    // text twin — the 2-hop merge neither signal finds alone, which
    // is exactly what the closed-form twin pins
    Q("dedup_graph_fusion", (s, d) => {
      val docs = t(s, d).documents.select(col("doc_id"), col("text"))
      val copies = docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      val all = docs.unionByName(copies)
      // exact signal: same-sha star edges to the group's min id
      val hashed = all.select(col("doc_id"), sha2(col("text"), 256).as("h"))
      val hubs = hashed.groupBy(col("h")).agg(min(col("doc_id")).as("hub"))
      val exactEdges = hashed.join(hubs, "h")
        .where(col("doc_id") =!= col("hub"))
        .select(col("doc_id").as("doc_a"), col("hub").as("doc_b"))
      // canonical signal: originals point at their triple's master
      val canonEdges = docs.where(col("doc_id") % 3 =!= 0)
        .select(col("doc_id").as("doc_a"), (col("doc_id") - col("doc_id") % 3).as("doc_b"))
      Graph.starComponents(exactEdges.unionByName(canonEdges),
          all.select(col("doc_id")))
        .orderBy("doc_id")
    })(
      // the 2-hop merge closed-form: every original lands in its
      // canonical triple; every planted copy chains into its text
      // twin's triple through the exact-hash edge
      """SELECT doc_id, doc_id - (doc_id % 3) AS cluster_id FROM documents
        |UNION ALL
        |SELECT doc_id + 10000, doc_id - (doc_id % 3) FROM documents WHERE doc_id % 10 = 0
        |ORDER BY 1""".stripMargin),
    // rel=canonical dedup — the polite-crawl dedup signal that beats
    // any content hash (the SITE tells you which copy is the master):
    // every page's head carries a deliberately messy canonical href
    // (uppercase scheme+host, explicit :443, fragment) pointing at
    // its triple's master doc; extraction + normalization + grouping
    // yield per-page master URL, the is_canonical verdict, and the
    // duplicate-family size. One narrow regex pass + one group-by on
    // the normalized key — scales like any hash dedup
    Q("canonical_dedup", (s, d) => {
      val docs = t(s, d).documents
      val id = col("doc_id")
      val m = id - (id % 3)
      val canonRaw = concat(lit("HTTPS://"), upper(Html.fixtureHost(m % Html.SiteSpace)),
        lit(":443/doc/"), m.cast("string"), lit("#canon"))
      val withCanon = Html.pageFromDocs(docs)
        .select(col("doc_id"), regexp_replace(col("html"), lit("</head>"),
          concat(lit("<link rel=\"canonical\" href=\""), canonRaw,
            lit("\">\n</head>"))).as("html"))
      val base = concat(lit("https://"), Html.fixtureHost(id % Html.SiteSpace),
        lit("/doc/"), id.cast("string"))
      val ext = withCanon.select(col("doc_id"),
          regexp_extract(col("html"), "<link rel=\"canonical\" href=\"([^\"]*)\"", 1).as("raw"))
        .select(col("doc_id"), Html.urlNormalize(col("raw"), base).as("canonical_url"),
          base.as("own_url"))
        .select(col("doc_id"), col("canonical_url"),
          (col("canonical_url") === col("own_url")).as("is_canonical"))
        // normalize ONCE, materialize ONCE: the family count and the
        // output join both consume this narrow relation — without
        // the checkpoint the page build + regex + normalizer tree
        // run twice (13s → ~1s at sf0.1)
        .truncateLineage
      val fam = ext.groupBy(col("canonical_url")).agg(count(lit(1)).as("group_size"))
      ext.join(fam, "canonical_url")
        .select(col("doc_id"), col("canonical_url"), col("is_canonical"), col("group_size"))
        .orderBy("doc_id")
    }) {
      // closed-form: master m = doc_id − (doc_id mod 3); the hash
      // proves injection round-trip, extraction, normalization
      // (scheme/host lowering, :443 and fragment stripping), grouping
      val ss = Html.SiteSpace
      s"""WITH x AS (SELECT doc_id, doc_id - (doc_id % 3) AS m FROM documents),
         | c AS (SELECT doc_id, m,
         |    'https://' || ${sqlHost(s"m%$ss")} || '/doc/' || m AS canonical_url FROM x),
         | g AS (SELECT canonical_url, count(*) AS group_size FROM c GROUP BY 1)
         |SELECT c.doc_id, c.canonical_url, c.doc_id = c.m AS is_canonical, g.group_size
         |FROM c JOIN g USING (canonical_url) ORDER BY c.doc_id""".stripMargin
    },
    // tracking-parameter URL dedup — the OTHER url-level dup signal
    // after rel=canonical: each doc triple shares one resource URL but
    // carries different click-attribution junk (utm_*, gclid, fbclid)
    // and a different REAL-param order; stripping + param sort
    // collapses the triple onto one canonical fetch key. The hash
    // proves the strip set, the sort, and the family grouping
    Q("url_strip_tracking", (s, d) => {
      val docs = t(s, d).documents
      val id = col("doc_id")
      val raw = trackedUrl
      val stripped = docs.select(id.as("doc_id"), raw.as("raw_url"),
        Html.stripTrackingParams(raw).as("canonical_url"))
      val fam = stripped.groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("keep_id"))
      stripped.join(fam, "canonical_url")
        .select(col("doc_id"), col("raw_url"), col("canonical_url"),
          col("n_variants"), col("keep_id"))
        .orderBy("doc_id")
    }) {
      // closed-form canonical: every arm's strip+sort lands on
      // base?a=1&page=2 — the twin derives it, the Spark side must
      // EARN it through the split/filter/sort pipeline
      val ss = Html.SiteSpace
      s"""WITH x AS (SELECT doc_id, doc_id - (doc_id % 3) AS m FROM documents),
         | c AS (SELECT doc_id, m,
         |    'https://' || ${sqlHost(s"m%$ss")} || '/doc/' || m AS base FROM x),
         | r AS (SELECT doc_id, base || '?a=1&page=2' AS canonical_url,
         |    CASE doc_id % 3
         |      WHEN 0 THEN base || '?page=2&utm_source=feed&a=1&utm_campaign=c' || doc_id
         |      WHEN 1 THEN base || '?a=1&gclid=g' || doc_id || '&page=2'
         |      ELSE base || '?page=2&a=1&fbclid=f' || doc_id END AS raw_url
         |   FROM c),
         | g AS (SELECT canonical_url, count(*) AS n_variants,
         |    min(doc_id) AS keep_id FROM r GROUP BY 1)
         |SELECT r.doc_id, r.raw_url, r.canonical_url, g.n_variants, g.keep_id
         |FROM r JOIN g USING (canonical_url) ORDER BY r.doc_id""".stripMargin
    },
    // UT1-style blocklist verdicts over the page-URL fixture: three
    // deterministic rule families — whole-domain blocks (k%7 hosts),
    // path-prefix blocks (/doc/1 on k%5 hosts), and a dot-boundary
    // SUFFIX rule (shop.example.co.uk, /doc/7) that must catch every
    // k%3 host through the suffix-chain equi-join, never a substring
    // scan. The hash proves the chain explode, the join, the prefix
    // test, and the longest-prefix-wins pick
    Q("url_blocklist_filter", (s, d) => {
      val docs = t(s, d).documents
      val id = col("doc_id")
      val urls = docs.select(id.as("doc_id"),
        concat(lit("https://"), Html.fixtureHost(id % Html.SiteSpace),
          lit("/doc/"), id.cast("string")).as("url"))
      val ks = docs.select((id % Html.SiteSpace).as("k")).distinct()
      val rules = blocklistRules(ks)
      urls.join(Html.blocklistFilter(urls, rules), Seq("url"))
        .select(col("doc_id"), col("url"), col("blocked"),
          col("rule_host"), col("rule_prefix"))
        .orderBy("doc_id")
    }) {
      // rule hits derived closed-form from the k arithmetic; the
      // longest-prefix/host/prefix pick mirrors the Spark max(struct)
      val ss = Html.SiteSpace
      s"""WITH u AS (SELECT doc_id, doc_id % $ss AS k FROM documents),
         | uu AS (SELECT doc_id, k,
         |    'https://' || ${sqlHost("k")} || '/doc/' || doc_id AS url,
         |    '/doc/' || doc_id AS path FROM u),
         | cand AS (
         |   SELECT doc_id, ${sqlHost("k")} AS rule_host, '' AS prefix
         |     FROM uu WHERE k % 7 = 0
         |   UNION ALL
         |   SELECT doc_id, ${sqlHost("k")}, '/doc/1'
         |     FROM uu WHERE k % 5 = 0 AND starts_with(path, '/doc/1')
         |   UNION ALL
         |   SELECT doc_id, 'shop.example.co.uk', '/doc/7'
         |     FROM uu WHERE k % 3 = 0 AND starts_with(path, '/doc/7')),
         | best AS (SELECT doc_id, rule_host, prefix, row_number() OVER (
         |    PARTITION BY doc_id
         |    ORDER BY length(prefix) DESC, rule_host DESC, prefix DESC) AS rn
         |   FROM cand)
         |SELECT uu.doc_id, uu.url, b.doc_id IS NOT NULL AS blocked,
         | coalesce(b.rule_host, '') AS rule_host,
         | coalesce(b.prefix, '') AS rule_prefix
         |FROM uu LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
         |ORDER BY uu.doc_id""".stripMargin
    },
    // domain-level quality gate (score SOURCES, not documents — the
    // spam-farm catch per-doc cuts miss): pooled stopword density per
    // fixture host vs the corpus-wide density, compared by exact
    // DECIMAL cross-multiply; only docs of at-or-above-average domains
    // survive, carrying their domain's pooled counts
    Q("domain_quality_filter", (s, d) => {
      // r15: pooled at PSL REGISTERED-DOMAIN granularity (the
      // RefinedWeb unit — spam farms spread across hosts of one
      // registrable domain), keyed by the bundled-snapshot PSL join
      // rather than the last-2/last-3 heuristic
      val docs = graft.operators.PublicSuffix.withSite(
        t(s, d).documents
          .withColumn("host", Html.fixtureHost(col("doc_id") % Html.SiteSpace)))
      Corpus.domainQualityGate(docs, domainCol = "site")
        .select(col("doc_id"), col("lang"), col("host"), col("site"),
          col("domain_hits"), col("domain_tokens"))
        .orderBy("doc_id")
    }) {
      // pooled per-SITE stopword density vs the corpus density (r15:
      // pooling key is the PSL registered domain from the pslCtes chain,
      // the same published algorithm over the same bundled snapshot the
      // engine broadcasts); both sides exact: HUGEINT cross-multiply ==
      // Spark's DECIMAL(38,0)
      val ss = Html.SiteSpace
      s"""WITH t AS (SELECT doc_id, lang, ${sqlHost(s"doc_id%$ss")} AS host,
         |    list_filter(string_split_regex(text, '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS tk
         |   FROM documents),
         |${pslCtes("t")},
         | s AS (SELECT doc_id, lang, t.host, coalesce(m.site, lower(t.host)) AS site,
         |    CAST(len(list_filter(tk, x -> list_contains([$AllStopwordsSqlList], lower(x)))) AS BIGINT) AS h,
         |    CAST(len(tk) AS BIGINT) AS n
         |   FROM t JOIN psl_map m ON m.host = t.host),
         | d AS (SELECT site, CAST(sum(h) AS BIGINT) AS domain_hits,
         |    CAST(sum(n) AS BIGINT) AS domain_tokens FROM s GROUP BY site),
         | tot AS (SELECT CAST(sum(domain_hits) AS BIGINT) AS ch,
         |    CAST(sum(domain_tokens) AS BIGINT) AS ct FROM d),
         | keep AS (SELECT site, domain_hits, domain_tokens FROM d, tot
         |   WHERE CAST(domain_hits AS HUGEINT) * CAST(ct AS HUGEINT) >=
         |         CAST(ch AS HUGEINT) * CAST(domain_tokens AS HUGEINT))
         |SELECT s.doc_id, s.lang, s.host, s.site,
         | keep.domain_hits, keep.domain_tokens
         |FROM s JOIN keep USING (site) ORDER BY s.doc_id""".stripMargin
    },
    // the PSL algorithm itself as a relation: a host fixture touching
    // every rule class — multi-label ICANN suffixes, wildcard TLDs,
    // exception rules, the jp geographic wildcards, private-section
    // platform suffixes, and the default `*` — mapped to
    // (site, public_suffix) by the bounded candidate-key explode +
    // broadcast rules join; the twin replays the published algorithm
    // over the SAME bundled snapshot
    Q("psl_registered_domain", (s, d) => {
      val k = col("doc_id") % Html.SiteSpace
      val host = when(col("doc_id") % 7 === 0, Html.fixtureHost(k))
        .when(col("doc_id") % 7 === 1,
          concat(lit("www.example"), k.cast("string"), lit(".com")))
        .when(col("doc_id") % 7 === 2,
          concat(lit("sub"), k.cast("string"), lit(".foo.ck")))
        .when(col("doc_id") % 7 === 3,
          concat(lit("a"), k.cast("string"), lit(".www.ck")))
        .when(col("doc_id") % 7 === 4,
          concat(lit("blog"), k.cast("string"), lit(".github.io")))
        .when(col("doc_id") % 7 === 5,
          concat(lit("x"), k.cast("string"), lit(".kawasaki.jp")))
        .otherwise(lit("city.kawasaki.jp"))
      graft.operators.PublicSuffix.registeredDomains(
          t(s, d).documents.select(host.as("host")))
        .orderBy("host")
    }) {
      // the PSL algorithm replayed end-to-end in SQL over the SAME
      // bundled snapshot (candidate-key explosion, exception-then-most-
      // labels prevailing rule, default `*`) on a host fixture touching
      // every rule class
      val ss = Html.SiteSpace
      s"""WITH hsrc AS (SELECT DISTINCT CASE
         |   WHEN doc_id%7=0 THEN ${sqlHost(s"doc_id%$ss")}
         |   WHEN doc_id%7=1 THEN 'www.example' || (doc_id%$ss) || '.com'
         |   WHEN doc_id%7=2 THEN 'sub' || (doc_id%$ss) || '.foo.ck'
         |   WHEN doc_id%7=3 THEN 'a' || (doc_id%$ss) || '.www.ck'
         |   WHEN doc_id%7=4 THEN 'blog' || (doc_id%$ss) || '.github.io'
         |   WHEN doc_id%7=5 THEN 'x' || (doc_id%$ss) || '.kawasaki.jp'
         |   ELSE 'city.kawasaki.jp' END AS host FROM documents),
         |${pslCtes("hsrc")}
         |SELECT host, site, public_suffix FROM psl_map ORDER BY host""".stripMargin
    },
    // sitemap-driven discovery — the OTHER half of polite crawling
    // (robots says what you may fetch; the sitemap says what exists):
    // each host's sitemap XML is assembled deterministically from its
    // pages (<loc> + <lastmod>), parsed back with one positional
    // regexp pass, and anti-joined against the already-crawled set —
    // the output is the uncrawled discovery list a frontier ingests.
    // The hash proves the XML build/parse round trip AND the
    // discovery anti-join
    Q("sitemap_discovery", (s, d) => {
      val docs = t(s, d).documents
      val id = col("doc_id")
      val url = concat(lit("https://"), Html.fixtureHost(id % Html.SiteSpace),
        lit("/doc/"), id.cast("string"))
      val entries = docs.select((id % Html.SiteSpace).as("hk"), id.as("doc_id"),
        concat(lit("<url><loc>"), url, lit("</loc><lastmod>"),
          (lit(1700000000L) + id).cast("string"), lit("</lastmod></url>")).as("e"))
      val sitemaps = entries.groupBy(col("hk"))
        .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
          concat_ws("", expr("transform(array_sort(collect_list(struct(doc_id, e))), s -> s.e)")),
          lit("</urlset>")).as("xml"))
      val parsed = sitemaps.select(col("hk"),
          expr("regexp_extract_all(xml, '<loc>([^<]*)</loc>', 1)").as("locs"),
          expr("regexp_extract_all(xml, '<lastmod>([^<]*)</lastmod>', 1)").as("mods"))
        .select(col("hk"), explode(arrays_zip(col("locs"), col("mods"))).as("z"))
        .select(col("hk"), col("z.locs").as("url"),
          col("z.mods").cast("long").as("lastmod_ts"),
          regexp_extract(col("z.locs"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"))
      val crawled = docs.where(col("doc_id") % 2 === 0).select(col("doc_id"))
      parsed.join(crawled, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), Html.fixtureHost(col("hk")).as("host"),
          col("url"), col("lastmod_ts"))
        .orderBy("doc_id")
    }) {
      // closed-form discovery list: uncrawled = odd ids; url/lastmod
      // rebuilt from doc_id arithmetic — the build/parse round trip is
      // what the Spark side must invert losslessly
      val ss = Html.SiteSpace
      s"""SELECT doc_id, ${sqlHost(s"doc_id%$ss")} AS host,
         | 'https://' || ${sqlHost(s"doc_id%$ss")} || '/doc/' || doc_id AS url,
         | CAST(1700000000 + doc_id AS BIGINT) AS lastmod_ts
         |FROM documents WHERE doc_id % 2 = 1 ORDER BY doc_id""".stripMargin
    },
    // URL normalization as an oracle query: each doc's three raw href
    // forms (absolute with uppercase scheme/host + default port +
    // fragment; root-relative with query; dot-segment relative) are
    // resolved + canonicalized against the page URL; host and
    // registered-domain site keys come out of the normalized form.
    // The twin builds the expected strings closed-form from doc_id
    // arithmetic — the hash proves resolution, lowercasing, port and
    // fragment stripping, dot-segment collapse, and suffix handling
    Q("url_normalize", (s, d) => {
      val id = col("doc_id")
      val base = concat(lit("https://"), Html.fixtureHost(id % Html.SiteSpace),
        lit("/doc/"), id.cast("string"))
      val t1 = (id * 7 + 3) % Html.DefaultLinkSpace
      val t2 = (id * 13 + 5) % Html.DefaultLinkSpace
      val t3 = (id + 1) % Html.DefaultLinkSpace
      val raw1 = concat(lit("HTTP://"), upper(Html.fixtureHost(t1 % Html.SiteSpace)),
        lit(":80/doc/"), t1.cast("string"), lit("#frag"))
      val raw2 = concat(lit("/doc/"), t2.cast("string"), lit("?ref=nav"))
      val raw3 = concat(lit("../doc/"), t3.cast("string"), lit("#s2"))
      t(s, d).documents.select(id.as("doc_id"), base.as("base"), explode(array(
          struct(lit("abs").as("kind"), raw1.as("raw_url")),
          struct(lit("rel").as("kind"), raw3.as("raw_url")),
          struct(lit("root").as("kind"), raw2.as("raw_url")))).as("r"))
        .select(col("doc_id"), col("r.kind").as("kind"), col("r.raw_url").as("raw_url"),
          Html.urlNormalize(col("r.raw_url"), col("base")).as("norm_url"))
        .withColumn("host", Html.urlHost(col("norm_url")))
        // r15: site keyed by the PSL snapshot join (values unchanged on
        // the fixture — the closed-form twin still decides — but the
        // registered query now replays the real published algorithm)
        .transform(graft.operators.PublicSuffix.withSite(_))
        .orderBy("doc_id", "kind")
    }) {
      // expected normalized URLs built closed-form from doc_id
      // arithmetic — the three raw forms' resolution/canonicalization is
      // what the hash proves (50 | 1000, so t%50 == (expr)%50 holds)
      val m = Html.DefaultLinkSpace
      val ss = Html.SiteSpace
      s"""WITH t AS (SELECT doc_id, (doc_id*7+3)%$m AS t1, (doc_id*13+5)%$m AS t2,
         |                  (doc_id+1)%$m AS t3 FROM documents),
         | rows AS (
         |  SELECT doc_id, 'abs' AS kind,
         |    'HTTP://' || upper(${sqlHost(s"t1%$ss")}) || ':80/doc/' || t1 || '#frag' AS raw_url,
         |    'http://' || ${sqlHost(s"t1%$ss")} || '/doc/' || t1 AS norm_url,
         |    ${sqlHost(s"t1%$ss")} AS host, ${sqlSite(s"t1%$ss")} AS site
         |  FROM t
         |  UNION ALL
         |  SELECT doc_id, 'root',
         |    '/doc/' || t2 || '?ref=nav',
         |    'https://' || ${sqlHost(s"doc_id%$ss")} || '/doc/' || t2 || '?ref=nav',
         |    ${sqlHost(s"doc_id%$ss")}, ${sqlSite(s"doc_id%$ss")}
         |  FROM t
         |  UNION ALL
         |  SELECT doc_id, 'rel',
         |    '../doc/' || t3 || '#s2',
         |    'https://' || ${sqlHost(s"doc_id%$ss")} || '/doc/' || t3,
         |    ${sqlHost(s"doc_id%$ss")}, ${sqlSite(s"doc_id%$ss")}
         |  FROM t)
         |SELECT doc_id, kind, raw_url, norm_url, host, site
         |FROM rows ORDER BY doc_id, kind""".stripMargin
    },
    // site-cluster discovery over REAL keys: the URL-page fixture's
    // hrefs are parsed by the general outlinksFull (resolve+normalize),
    // edges are lifted to host granularity, and large-star/small-star
    // components run on host STRINGS — the site graph a crawl
    // frontier/budget system actually partitions on. Only the absolute
    // href crosses hosts (root/dot-relative resolve to the page's own
    // host and drop as self-loops), so the host graph is the
    // closed-form k → (7k+3) mod 50 permutation — cycles become
    // clusters
    Q("site_components", (s, d) => {
      val pages = Html.urlPageFromDocs(t(s, d).documents)
      val hostEdges = Html.outlinksFull(pages)
        .select(Html.urlHost(col("src_url")).as("doc_a"),
          Html.urlHost(col("dst_url")).as("doc_b"))
        .where(col("doc_a") =!= col("doc_b")).distinct()
      val hosts = hostEdges.select(col("doc_a").as("host"))
        .union(hostEdges.select(col("doc_b").as("host"))).distinct()
      Graph.starComponents(hostEdges, hosts, idCol = "host")
        .select(col("doc_id").as("host"), col("cluster_id"))
        .orderBy("host")
    }) {
      // only the absolute href crosses hosts, so the host graph is the
      // closed-form k → (7k+3) mod SiteSpace map; undirected closure
      // over it (the crawl_components recursive device, on strings)
      val ss = Html.SiteSpace
      s"""WITH RECURSIVE e0 AS (
         |  SELECT DISTINCT ${sqlHost(s"doc_id%$ss")} AS a, ${sqlHost(s"(doc_id*7+3)%$ss")} AS b
         |  FROM documents
         |  WHERE ${sqlHost(s"doc_id%$ss")} <> ${sqlHost(s"(doc_id*7+3)%$ss")}),
         |$ReachCtes
         |SELECT node AS host, min(label) AS cluster_id
         |FROM reach GROUP BY node ORDER BY host""".stripMargin
    },
    // the same component discovery at PSL REGISTERED-DOMAIN granularity
    // (r15): hosts carry a www label the PSL must drop, so the graph's
    // node identity comes from the real suffix-list algorithm (distinct
    // hosts of one registrable domain merge BEFORE the components run)
    // — the site graph a per-domain budget system actually partitions
    // on; host-granularity site_components stays registered above (a
    // crawl frontier politeness-partitions on hosts, not sites)
    Q("psl_site_components", (s, d) => {
      val ss = Html.SiteSpace
      def host(c: org.apache.spark.sql.Column) =
        concat(lit("www.site"), c.cast("string"), lit(".co.uk"))
      val raw = t(s, d).documents
        .select(host(col("doc_id") % ss).as("ha"),
          host((col("doc_id") * 7 + 3) % ss).as("hb"))
        .distinct()
      val hosts = raw.select(col("ha").as("host"))
        .union(raw.select(col("hb").as("host"))).distinct()
      val siteMap = graft.operators.PublicSuffix.registeredDomains(hosts)
        .select(col("host"), col("site"))
      val edges = raw
        .join(siteMap.select(col("host").as("ha"), col("site").as("doc_a")), Seq("ha"))
        .join(siteMap.select(col("host").as("hb"), col("site").as("doc_b")), Seq("hb"))
        .select(col("doc_a"), col("doc_b"))
        .where(col("doc_a") =!= col("doc_b")).distinct()
      val sites = edges.select(col("doc_a").as("site"))
        .union(edges.select(col("doc_b").as("site"))).distinct()
      Graph.starComponents(edges, sites, idCol = "site")
        .select(col("doc_id").as("site"), col("cluster_id"))
        .orderBy("site")
    }) {
      // the PSL hop replayed via pslCtes (www label dropped by the real
      // algorithm), then the same undirected min-label closure over the
      // registered-domain graph
      val ss = Html.SiteSpace
      s"""WITH RECURSIVE hraw AS (
         |  SELECT DISTINCT 'www.site' || (doc_id%$ss) || '.co.uk' AS ha,
         |         'www.site' || ((doc_id*7+3)%$ss) || '.co.uk' AS hb
         |  FROM documents),
         | hsrc AS (SELECT ha AS host FROM hraw UNION SELECT hb FROM hraw),
         |${pslCtes("hsrc")},
         | e0 AS (SELECT DISTINCT ma.site AS a, mb.site AS b
         |   FROM hraw JOIN psl_map ma ON ma.host = hraw.ha
         |             JOIN psl_map mb ON mb.host = hraw.hb
         |   WHERE ma.site <> mb.site),
         |$ReachCtes
         |SELECT node AS site, min(label) AS cluster_id
         |FROM reach GROUP BY node ORDER BY site""".stripMargin
    },
    // internationalized hosts: the unicode and punycode (`xn--`)
    // spellings of one domain must key to the SAME PSL site — the fold
    // runs inside registeredDomains (JDK IDN per label, distinct-host
    // relation only), and the oracle pins the published punycode
    // constants (münchen → xn--mnchen-3ya; the 公司.cn PSL rule →
    // xn--55qx5d.cn), so the twin is independent of the JDK codec
    Q("idn_host_fold", (s, d) => {
      val f = col("doc_id") % 4
      val m = (col("doc_id") % 7).cast("string")
      val host = when(f === 0, concat(lit("a"), m, lit(".münchen.de")))
        .when(f === 1, concat(lit("a"), m, lit(".xn--mnchen-3ya.de")))
        .when(f === 2, concat(lit("b"), m, lit(".shop.公司.cn")))
        .otherwise(concat(lit("b"), m, lit(".shop.xn--55qx5d.cn")))
      graft.operators.PublicSuffix.registeredDomains(
          t(s, d).documents.select(host.as("host")))
        .orderBy("host")
    }) {
      // the fold's expected outputs are PINNED punycode constants from
      // public knowledge (münchen → xn--mnchen-3ya is the RFC 3492
      // worked example class; xn--55qx5d.cn is the published ASCII form
      // of the 公司.cn PSL rule) — NOT replayed through any IDN codec,
      // so the twin independently proves both spellings key to one site
      s"""WITH hsrc AS (SELECT DISTINCT doc_id%4 AS f, doc_id%7 AS m FROM documents),
         | h AS (SELECT CASE f
         |   WHEN 0 THEN 'a' || m || '.münchen.de'
         |   WHEN 1 THEN 'a' || m || '.xn--mnchen-3ya.de'
         |   WHEN 2 THEN 'b' || m || '.shop.公司.cn'
         |   ELSE 'b' || m || '.shop.xn--55qx5d.cn' END AS host, f FROM hsrc)
         |SELECT host,
         | CASE WHEN f IN (0,1) THEN 'xn--mnchen-3ya.de'
         |      ELSE 'shop.xn--55qx5d.cn' END AS site,
         | CASE WHEN f IN (0,1) THEN 'de' ELSE 'xn--55qx5d.cn' END AS public_suffix
         |FROM h ORDER BY host""".stripMargin
    },
    // legacy-charset repair at the crawl front door: six byte-level
    // page classes (clean UTF-8, ISO-8859-1, Shift-JIS, windows-1251,
    // a malformed byte under a utf-8 declaration, pre-damaged
    // mojibake content) run declared-charset transcode with
    // malformed-unit accounting, report the naive-UTF-8 damage the
    // transcode repaired, and compose into mojibakeScreen — which
    // must flag the pre-damaged class and nothing else
    Q("charset_transcode_audit", (s, d) => {
      val audit = Charsets.transcodeAudit(
        Charsets.pagesFromDocs(t(s, d).documents.select(col("doc_id"))))
      audit
        .join(TextQuality.mojibakeScreen(audit.select(col("doc_id"), col("text"))),
          Seq("doc_id"))
        .select(col("doc_id"), col("charset"), col("transcoded"),
          col("malformed_units"), col("utf8_malformed"),
          col("n_moji"), col("is_moji"), col("text"))
        .orderBy("doc_id")
    }) {
      // the twin is a pure closed form: expected texts rebuilt from the
      // published charset tables (0xE9=é in ISO-8859-1, 0x83 65 93 FA=
      // テ日 in Shift-JIS, 0xCF F0=Пр in windows-1251), malformed-unit
      // counts from the UTF-8 spec's error-sequence segmentation (a
      // planted 0xE9 before ASCII = 1 unit; the SJIS quad = 3; the 1251
      // pair = 2; a lone 0xFF = 1) — nothing replayed through a codec
      s"""WITH b AS (SELECT doc_id, doc_id%6 AS c,
         |    CAST(doc_id%7 AS VARCHAR) AS m FROM documents)
         |SELECT doc_id,
         | CASE WHEN c=1 THEN 'iso-8859-1' WHEN c=2 THEN 'shift_jis'
         |      WHEN c=3 THEN 'windows-1251' ELSE 'utf-8' END AS charset,
         | c IN (1,2,3) AS transcoded,
         | CAST(CASE WHEN c=4 THEN 1 ELSE 0 END AS BIGINT) AS malformed_units,
         | CAST(CASE c WHEN 1 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 2
         |             WHEN 4 THEN 1 ELSE 0 END AS BIGINT) AS utf8_malformed,
         | CAST(CASE WHEN c=5 THEN 1 ELSE 0 END AS BIGINT) AS n_moji,
         | c=5 AS is_moji,
         | CASE c
         |  WHEN 0 THEN '<meta charset="utf-8"><p>doc ' || m || ' caf' || chr(233) || ' ' || chr(26085) || '</p>'
         |  WHEN 1 THEN '<meta charset="iso-8859-1"><p>doc ' || m || ' caf' || chr(233) || '</p>'
         |  WHEN 2 THEN '<meta charset="shift_jis"><p>doc ' || m || ' ' || chr(12486) || chr(26085) || '</p>'
         |  WHEN 3 THEN '<meta charset="windows-1251"><p>doc ' || m || ' ' || chr(1055) || chr(1088) || '</p>'
         |  WHEN 4 THEN '<meta charset="utf-8"><p>doc ' || m || ' ' || chr(65533) || ' ok</p>'
         |  ELSE '<meta charset="utf-8"><p>doc ' || m || ' mal ' || chr(195) || chr(169) || ' input</p>'
         | END AS text
         |FROM b ORDER BY doc_id""".stripMargin
    },
    // the same planted byte classes with their meta tags REMOVED:
    // content-based detection must recover utf-8/latin-1/shift_jis/
    // cp1251 from the bytes alone (VERDICT r16 missing #1) — the
    // undeclared-0xFF class repairs to latin-1 ÿ with ZERO malformed
    // units where the old utf-8 default counted damage unrepaired
    Q("charset_detect_audit", (s, d) => {
      Charsets.transcodeAudit(
        Charsets.pagesFromDocs(t(s, d).documents.select(col("doc_id")), declare = false))
        .select(col("doc_id"), col("charset"), col("declared"), col("supported"),
          col("transcoded"), col("malformed_units"), col("utf8_malformed"),
          col("ok"), col("text"))
        .orderBy("doc_id")
    }) {
      // undeclared fixture, detection outcomes pinned closed-form per
      // planted class (the detector's decision ladder is deterministic
      // published-spec arithmetic, so the twin states its conclusions):
      // 1 lone-high-byte → latin-1, 2 SJIS lead pair → shift_jis,
      // 3 Cyrillic run → cp1251, 4 stray 0xFF → latin-1 ÿ REPAIRED
      // (zero malformed vs the declared fixture's counted damage)
      s"""WITH b AS (SELECT doc_id, doc_id%6 AS c,
         |    CAST(doc_id%7 AS VARCHAR) AS m FROM documents)
         |SELECT doc_id,
         | CASE WHEN c=1 THEN 'iso-8859-1' WHEN c=2 THEN 'shift_jis'
         |      WHEN c=3 THEN 'windows-1251' WHEN c=4 THEN 'iso-8859-1'
         |      ELSE 'utf-8' END AS charset,
         | false AS declared,
         | true AS supported,
         | c IN (1,2,3,4) AS transcoded,
         | CAST(0 AS BIGINT) AS malformed_units,
         | CAST(CASE c WHEN 1 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 2
         |             WHEN 4 THEN 1 ELSE 0 END AS BIGINT) AS utf8_malformed,
         | true AS ok,
         | CASE c
         |  WHEN 0 THEN '<p>doc ' || m || ' caf' || chr(233) || ' ' || chr(26085) || '</p>'
         |  WHEN 1 THEN '<p>doc ' || m || ' caf' || chr(233) || '</p>'
         |  WHEN 2 THEN '<p>doc ' || m || ' ' || chr(12486) || chr(26085) || '</p>'
         |  WHEN 3 THEN '<p>doc ' || m || ' ' || chr(1055) || chr(1088) || '</p>'
         |  WHEN 4 THEN '<p>doc ' || m || ' ' || chr(255) || ' ok</p>'
         |  ELSE '<p>doc ' || m || ' mal ' || chr(195) || chr(169) || ' input</p>'
         | END AS text
         |FROM b ORDER BY doc_id""".stripMargin
    })

  /** 5-iteration TrustRank twin: pageRankCtes' arithmetic with the
    * teleport term CASE'd on seed membership (every 50th doc), |S|
    * from an in-graph seed count. Same single-scalar-subquery chain
    * shape as the pageRank twin. */
  private def trustRankUnrolled(edgesCtePrefix: String): String = {
    val tele = "CASE WHEN f.is_seed THEN (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT k FROM ns) ELSE CAST(0.0 AS DOUBLE) END"
    val pre =
      s"""$edgesCtePrefix,
         | nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst AS node FROM edges),
         | deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         | sds AS (SELECT doc_id AS snode FROM documents WHERE doc_id % 50 = 0),
         | flg AS (SELECT node, node IN (SELECT snode FROM sds) AS is_seed FROM nodes),
         | ns AS (SELECT count(*) AS k FROM flg WHERE is_seed),
         | r0 AS (SELECT f.node, f.is_seed, $tele AS rank FROM flg f)""".stripMargin
    val iters = (1 to 5).map { i =>
      s""" r$i AS (SELECT f.node, f.is_seed,
         |   $tele + CAST(0.85 AS DOUBLE) * CAST(coalesce(c.s, 0) AS DOUBLE) AS rank
         |  FROM flg f LEFT JOIN (
         |    SELECT e.dst AS node, sum(CAST(round(r.rank / deg.deg, 12) AS DECIMAL(38,12))) AS s
         |    FROM r${i - 1} r JOIN deg ON deg.src = r.node JOIN edges e ON e.src = r.node
         |    GROUP BY e.dst) c ON c.node = f.node)""".stripMargin
    }.mkString(",\n")
    s"$pre,\n$iters\nSELECT node, round(rank, 8) AS ppr FROM r5 ORDER BY node"
  }

  /** 5-iteration HITS twin over a pluggable `edges(src, dst)` CTE
    * prefix — mirrors Graph.hits operation-for-operation: per-edge
    * round(score, 12) → DECIMAL(38,12) sums, L1 normalization by the
    * exact decimal total, one IEEE double division per node. Each
    * iteration is two unrolled half-steps (auth from hubs, hubs from
    * auth). */
  private def hitsUnrolled(edgesCtePrefix: String): String = {
    val pre =
      s"""$edgesCtePrefix,
         | nodes AS (SELECT DISTINCT src AS node FROM edges UNION SELECT DISTINCT dst AS node FROM edges),
         | h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM nodes)""".stripMargin
    // the normalizing total is a WINDOW sum over the left-joined rows
    // (NULLs ignored == sum over the raw aggregate; exact decimal sum
    // is order-independent, so the value is identical to the Spark
    // side's broadcast one-row total) — keeping every CTE single-
    // referenced, because DuckDB inlines CTEs and a tot-CTE referenced
    // from inside its own consumer goes exponential across 10 levels
    def half(rawName: String, outName: String,
             inName: String, inCol: String, from: String, to: String, outCol: String): String =
      s""" $rawName AS (SELECT e.$to AS dst_node, sum(CAST(round(x.$inCol, 12) AS DECIMAL(38,12))) AS s
         |   FROM $inName x JOIN edges e ON e.$from = x.node GROUP BY e.$to),
         | $outName AS (SELECT node, round(CAST(coalesce(s, 0) AS DOUBLE) / CAST(sum(s) OVER () AS DOUBLE), 12) AS $outCol
         |  FROM (SELECT nodes.node, r.s FROM nodes LEFT JOIN $rawName r ON r.dst_node = nodes.node) j)""".stripMargin
    val iters = (1 to 5).map { i =>
      half(s"ar$i", s"a$i", s"h${i - 1}", "hub", "src", "dst", "auth") + ",\n" +
        half(s"hr$i", s"h$i", s"a$i", "auth", "dst", "src", "hub")
    }.mkString(",\n")
    s"""$pre,
       |$iters
       |SELECT a5.node, round(a5.auth, 8) AS auth, round(h5.hub, 8) AS hub
       |FROM a5 JOIN h5 ON h5.node = a5.node ORDER BY a5.node""".stripMargin
  }

  /** Peel rounds shared by the kcore_nodes query and its unrolled-CTE
    * twin — one constant so the two engines cannot drift. */
  private val KCoreRounds = 6

  /** Unrolled k-core twin: e0 = canonical undirected simple edges,
    * then KCoreRounds × (degree → keep → restrict) CTE triples — the
    * page_rank unrolling device applied to peeling. */
  private lazy val kCoreTwinSql: String = {
    // MATERIALIZED: each e_i is referenced three times by round i+1;
    // inlined CTEs would expand the base scan 3^rounds times (DuckDB
    // inlines by default — observed as an fd exhaustion, not a hang)
    val peels = (1 to KCoreRounds).map { i =>
      s""" d$i AS (SELECT node, count(*) AS deg
         |        FROM (SELECT a AS node FROM e${i - 1} UNION ALL SELECT b AS node FROM e${i - 1}) z
         |        GROUP BY 1),
         | k$i AS (SELECT node FROM d$i WHERE deg >= 2),
         | e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
         |        JOIN k$i x ON e.a = x.node JOIN k$i y ON e.b = y.node)""".stripMargin
    }.mkString(",\n")
    s"""$CrawlEdgesCte,
       | e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM edges WHERE src <> dst),
       |$peels
       |SELECT node, count(*) AS deg
       |FROM (SELECT a AS node FROM e$KCoreRounds UNION ALL SELECT b AS node FROM e$KCoreRounds) z
       |GROUP BY 1 HAVING count(*) >= 2 ORDER BY node""".stripMargin
  }

  private def sqlSite(k: String): String =
    s"(CASE WHEN ($k)%3=0 THEN 'example.co.uk' ELSE 'example.com' END)"

  /** The part co-purchase graph (parts sharing an order) as directed
    * edges (src, dst), src < dst. */
  private def copurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d).lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
    li.as("x").join(li.as("y"), col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
      .select(col("x.p").as("src"), col("y.p").as("dst"))
  }

  /** [[copurchaseEdges]]' twin as canonical undirected edges `e` (a, b),
    * a < b. */
  private val CopurchaseEdgeCtes: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      | ed AS (SELECT x.p AS src, y.p AS dst FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p),
      | e AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM ed WHERE src <> dst),""".stripMargin

  /** Connected components of the undirected edges `e0` (a, b) by
    * recursive min-label propagation: `reach` (node, label). */
  private val ReachCtes: String =
    """ e AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b AS src, a AS dst FROM e0),
      | nodes AS (SELECT DISTINCT src AS node FROM e),
      | reach(node, label) AS (
      |   SELECT node, node FROM nodes
      |   UNION
      |   SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.node)""".stripMargin
}
