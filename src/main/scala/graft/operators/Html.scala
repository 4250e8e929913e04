package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** HTML ingestion + boilerplate extraction (SURVEY.md §2.11 [NS]) — the
  * front door of a real web-crawl training corpus. The reference only
  * reads pre-cleaned plain text (map_reduce.cpp:477-495); a 100 TB
  * corpus starts as markup, so the pipeline needs a markup→main-text
  * stage before any of the text-quality / dedup / packing operators.
  *
  * Extraction is the Arc90-readability / jusText-class heuristic
  * (both public): split the page into BLOCKS on block-level tags,
  * score each block by text length and LINK DENSITY (chars of anchor
  * text / chars of block text), keep low-link-density blocks with
  * enough text, and join the survivors. Navigation chrome (menus,
  * footers, sidebars) is link-dense and short → dropped; body prose
  * is link-sparse → kept. No DOM is built: block splitting + per-block
  * regex work compose from Spark's higher-order array functions, so
  * the whole stage is a narrow projection (no shuffle, no UDF) that
  * scales linearly and keeps whole-stage codegen.
  *
  * Every regex used here is RE2-compatible, so the DuckDB oracle twin
  * runs the IDENTICAL algorithm (string_split_regex / list_transform /
  * list_filter / regexp_extract_all) — cross-engine hash equality
  * proves the extraction, not just the plumbing.
  */
object Html {

  /** Block-level tag boundary, case-insensitive (`(?i)` is shared by
    * Java regex and RE2, so the DuckDB twin can reuse the pattern
    * verbatim). `\b` keeps `<p>`/`<pre>` apart. */
  val BlockTagRe: String =
    "(?i)</?(?:html|head|title|body|nav|header|footer|aside|section|article|main|div|p|ul|ol|li|table|tr|td|h[1-6]|br)\\b[^>]*>"

  /** Anchor inner text (no nested markup inside the anchor). */
  val AnchorRe: String = "(?i)<a\\b[^>]*>([^<]*)</a>"

  /** The five predefined XML entities, escape order: amp FIRST (so
    * later escapes don't double-escape), matching
    * [[Cleaning.stripMarkup]]'s decode order (amp LAST). */
  private val Entities = Seq(
    "&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;", "\"" -> "&quot;", "'" -> "&#39;")

  /** Entity-escape free text for embedding in markup. */
  def escapeHtml(c: Column): Column =
    Entities.foldLeft(c) { case (acc, (ch, e)) =>
      regexp_replace(acc, java.util.regex.Pattern.quote(ch), e)
    }

  /** Named entities the decoder understands: the XML five plus the
    * set that actually occurs in crawled pages (typography, currency,
    * Latin-1 letters). Unknown names pass through as literal text —
    * the HTML-spec behavior for unrecognized references. */
  val NamedEntities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> "\u00a0", "shy" -> "\u00ad",
    "mdash" -> "—", "ndash" -> "–", "hellip" -> "…",
    "lsquo" -> "‘", "rsquo" -> "’", "ldquo" -> "“",
    "rdquo" -> "”", "laquo" -> "«", "raquo" -> "»",
    "middot" -> "·", "bull" -> "•", "dagger" -> "†",
    "copy" -> "©", "reg" -> "®", "trade" -> "™",
    "deg" -> "°", "times" -> "×", "divide" -> "÷",
    "plusmn" -> "±", "micro" -> "µ", "sect" -> "§",
    "para" -> "¶", "euro" -> "€", "pound" -> "£",
    "cent" -> "¢", "yen" -> "¥",
    "frac12" -> "½", "frac14" -> "¼", "frac34" -> "¾",
    "sup1" -> "¹", "sup2" -> "²", "sup3" -> "³",
    "eacute" -> "é", "egrave" -> "è", "ecirc" -> "ê",
    "agrave" -> "à", "acirc" -> "â", "ccedil" -> "ç",
    "ntilde" -> "ñ", "uuml" -> "ü", "ouml" -> "ö",
    "auml" -> "ä", "szlig" -> "ß", "aacute" -> "á",
    "iacute" -> "í", "oacute" -> "ó", "uacute" -> "ú")

  /** One reference: decimal `#NN`, hex `#xNN`, or a name. */
  private val EntityRe = "&(#[0-9]{1,7}|#[xX][0-9A-Fa-f]{1,6}|[a-zA-Z][a-zA-Z0-9]{1,9});"

  /** Codepoint → its UTF-8 bytes, built arithmetically (hex string →
    * unhex → decode). Spark's own chr() is mod-256 ASCII, so `&#8217;`
    * class codepoints need the byte construction done by hand — all
    * codegen'd integer/string ops, no UDF. */
  private def chrUtf8(cp: Column): Column = {
    def b(x: Column) = lpad(hex(x), 2, "0")
    def cont(x: Column) = b(x.bitwiseAND(lit(0x3f)).bitwiseOR(lit(0x80)))
    val hexStr =
      when(cp < 0x80, b(cp))
        .when(cp < 0x800, concat(b(shiftright(cp, 6).bitwiseOR(lit(0xc0))), cont(cp)))
        .when(cp < 0x10000, concat(b(shiftright(cp, 12).bitwiseOR(lit(0xe0))),
          cont(shiftright(cp, 6)), cont(cp)))
        .otherwise(concat(b(shiftright(cp, 18).bitwiseOR(lit(0xf0))),
          cont(shiftright(cp, 12)), cont(shiftright(cp, 6)), cont(cp)))
    decode(unhex(hexStr), "UTF-8")
  }

  /** Decode one reference body (sans `&`/`;`): numeric → codepoint
    * (invalid codepoints — zero, surrogates, past U+10FFFF — stay
    * literal), name → table lookup, unknown name → literal. */
  private def decodeEntityBody(body: Column): Column = {
    val literal = concat(lit("&"), body, lit(";"))
    val cp = when(body.rlike("^#[xX]"),
        conv(body.substr(lit(3), length(body)), 16, 10).cast("long"))
      .otherwise(body.substr(lit(2), length(body)).cast("long"))
    val validCp = cp >= 1 && cp <= 0x10ffff && !cp.between(0xd800, 0xdfff)
    when(body.startsWith("#"),
        when(validCp, chrUtf8(cp.cast("int"))).otherwise(literal))
      .otherwise(coalesce(
        element_at(typedLit(NamedEntities), body), literal))
  }

  /** Decode entity references in ONE left-to-right pass — the HTML
    * behavior: `&amp;lt;` yields `&lt;` (the decoded `&` is never
    * rescanned), which also makes this an exact inverse of
    * [[escapeHtml]]. Mechanism: mark every reference with control
    * delimiters, split, decode each marked body, reassemble — one
    * regex pass plus per-piece arithmetic, no UDF, so the DuckDB twin
    * never needs to replicate it (fixtures carry closed-form expected
    * text). Control chars U+0001/U+0002 are stripped first (they are
    * never content; this keeps hostile input from forging markers). */
  def unescapeHtml(c: Column): Column = {
    val marked = regexp_replace(
      regexp_replace(c, "[\u0001\u0002]", ""), EntityRe, "\u0001$1\u0002")
    // limit -1 keeps trailing empties so reassembly is exact
    val parts = split(marked, "\u0002", -1)
    concat_ws("", transform(parts, p => {
      val i = instr(p, "\u0001")
      when(i === 0, p).otherwise(concat(
        p.substr(lit(1), i - 1),
        decodeEntityBody(p.substr(i + 1, length(p)))))
    }))
  }

  /** Entity-rich paragraph (raw markup) and its decoded form — the
    * `html_entities` fixture injects the raw form into each page and
    * the DuckDB twin inlines the decoded constant, so hash equality
    * proves the full decoder: named, decimal, hex, double-escaped
    * (`&amp;#65;` must NOT rescan to `A`), unknown-name passthrough,
    * and invalid-codepoint passthrough (zero, surrogate, past
    * U+10FFFF). */
  val EntityFixtureRaw: String =
    "<p>Caf&eacute; fa&ccedil;ade &mdash; r&#111;w&#x2019;s&nbsp;d&eacute;cor " +
      "&laquo;&copy;&raquo; 2&frac12;&deg; &amp;&lt;tag&gt; &unknown; &#38;#65; " +
      "&#0;&#xD800;&#1114112;</p>\n"
  val EntityFixtureDecoded: String =
    "Café façade — row’s" + "\u00a0" + "décor «©» 2½° &<tag> &unknown; &#65; " +
      "&#0;&#xD800;&#1114112;"

  /** Deterministic boilerplated page per document — the markup twin of
    * Multimodal.pngMediaFromDocs's fixture device: wrap each
    * document's text in a full page with link-dense chrome (title,
    * nav with per-doc links, footer) and the body chunked into
    * `<p>` paragraphs of `wordsPerPara` words. Text is entity-escaped
    * on the way in, so documents that SPELL markup survive the round
    * trip as text. Chrome is 100% anchor text → link density 1 →
    * every chrome block fails the density gate; body paragraphs have
    * zero anchors → always kept. That makes extraction provably
    * lossless: extractMain(pageFromDocs(d)) recovers exactly the
    * whitespace-collapsed document text, which is what the DuckDB
    * oracle asserts (the twin never needs to build the page). */
  /** Target-id space of the page fixture's nav links — interpolated
    * into BOTH [[pageFromDocs]] and the DuckDB closed-form edge twin
    * (queries.Twins.CrawlEdgesBody), so fixture and twin cannot drift. */
  val DefaultLinkSpace: Int = 1000

  def pageFromDocs(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id", wordsPerPara: Int = 12,
                   linkSpace: Int = DefaultLinkSpace): DataFrame = {
    // Fan out before building (optimization r17, gated r18): the
    // documents table is one small parquet file — a single scan task —
    // so page construction AND every downstream narrow regex stage
    // (dropInert, block split, entity decode) otherwise run
    // single-threaded in the scan stage of all ~40 crawl-front-door
    // consumers. The exchange is gated and sized by the source's
    // actual parallelism/bytes (graft.plans.FanOut): a scan that is
    // already wide skips it, a tiny fixture fans to a few tasks, not
    // blindly to core count. Row-wise results are unchanged.
    val fanned = graft.plans.FanOut.fanOutIfNarrow(docs, col(idCol))
    val ws = filter(split(escapeHtml(col(textCol)), "\\s+"), w => length(w) > 0)
    val nPara = ceil(size(col("ws")).cast(DoubleType) / wordsPerPara).cast(IntegerType)
    // guard the empty case: sequence(1, 0) would step BACKWARDS
    val paras = when(col("np") > 0,
      transform(sequence(lit(1), col("np")),
        i => concat(lit("<p>"),
          concat_ws(" ", slice(col("ws"), (i - 1) * wordsPerPara + 1, lit(wordsPerPara))),
          lit("</p>\n"))))
      .otherwise(array().cast(ArrayType(StringType)))
    fanned
      .select(col(idCol).as("doc_id"), ws.as("ws"))
      .select(col("doc_id"), col("ws"), nPara.as("np"))
      .select(col("doc_id"), concat(
        lit("<!-- graft page; <p>markup in comments is not content</p> -->\n"),
        lit("<html><head><title><a href=\"/\">Graft Site</a></title>\n"),
        lit("<style>.nav { color: red; } p { margin: 1em; }</style>\n"),
        lit("<script>var graftPage = true; function noise() { return 42; }</script>\n"),
        lit("</head>\n<body>\n"),
        lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> "),
        concat_ws(" ", transform(
          array((col("doc_id") * 7 + 3) % linkSpace,
                (col("doc_id") * 13 + 5) % linkSpace,
                (col("doc_id") + 1) % linkSpace),
          d => concat(lit("<a href=\"/doc/"), d.cast(StringType),
            lit("\">Doc "), d.cast(StringType), lit("</a>")))),
        lit("</nav>\n<div>\n"),
        concat_ws("", paras),
        lit("</div>\n<footer><a href=\"/terms\">Terms</a> <a href=\"/privacy\">Privacy</a> <a href=\"/contact\">Contact</a></footer>\n</body></html>")
      ).as("html"))
  }

  /** Outgoing `/doc/<id>` link edges of each page — the crawl-graph
    * builder (frontier ordering / link-authority quality priors start
    * here). Href parsing is one regexp_extract_all over the raw
    * markup: narrow, no shuffle beyond the dedup. Self-loops dropped,
    * parallel links deduped — a simple directed graph ready for
    * [[graft.operators.Graph.pageRank]]. */
  def outlinks(pages: DataFrame, htmlCol: String = "html", idCol: String = "doc_id"): DataFrame =
    pages
      .select(col(idCol).as("src"),
        explode(regexp_extract_all(col(htmlCol),
          lit("(?i)href=\"/doc/([0-9]+)\""), lit(1))).as("d"))
      .select(col("src"), col("d").cast(LongType).as("dst"))
      .where(col("dst") =!= col("src"))
      .distinct()

  /** [[outlinks]] with MULTIPLICITY kept as an edge weight: a page
    * linking a target from three nav slots vouches for it harder than
    * a single mention — the edge-weight signal weighted PageRank
    * consumes. Same extraction, the distinct replaced by a count. */
  def outlinksWeighted(pages: DataFrame, htmlCol: String = "html",
                       idCol: String = "doc_id"): DataFrame =
    pages
      .select(col(idCol).as("src"),
        explode(regexp_extract_all(col(htmlCol),
          lit("(?i)href=\"/doc/([0-9]+)\""), lit(1))).as("d"))
      .select(col("src"), col("d").cast(LongType).as("dst"))
      .where(col("dst") =!= col("src"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))

  /** Anchor-TEXT aggregation per link target — how the rest of the
    * corpus describes a page (the classic off-page relevance signal:
    * anchor text indexes the TARGET, not the source). Parses
    * (href, inner text) pairs out of raw markup with two aligned
    * regexp_extract_all passes (same pattern, groups 1 and 2 — match
    * order is identical, so zipping is exact), entity-decodes and
    * whitespace-collapses the text, drops self-links, and aggregates
    * per target: distinct referring pages, distinct anchor variants,
    * and the lexicographic-min variant (a deterministic
    * representative). One narrow projection + one aggregate keyed on
    * the target id — hot targets (popular pages) are AQE's skew case. */
  def anchorTexts(pages: DataFrame, htmlCol: String = "html", idCol: String = "doc_id"): DataFrame = {
    val pat = "(?i)<a\\b[^>]*href=\"/doc/([0-9]+)\"[^>]*>([^<]*)</a>"
    val pairs = pages
      .select(col(idCol).as("src"), explode(arrays_zip(
        regexp_extract_all(col(htmlCol), lit(pat), lit(1)).as("d"),
        regexp_extract_all(col(htmlCol), lit(pat), lit(2)).as("a"))).as("z"))
      .select(col("src"), col("z.d").cast(LongType).as("dst"),
        trim(regexp_replace(unescapeHtml(col("z.a")), "\\s+", " ")).as("anchor"))
      .where(col("dst") =!= col("src"))
    pairs.groupBy(col("dst"))
      .agg(countDistinct(col("src")).as("n_inlinks"),
        countDistinct(col("anchor")).as("n_anchor_variants"),
        min(col("anchor")).as("top_anchor"))
  }

  /** Page fixture with PER-SOURCE anchor text: the same closed-form
    * link targets as [[pageFromDocs]], but each anchor reads
    * "<first word of the source doc> <target id>" (entity-escaped), so
    * anchor aggregation has real variance to prove — the twin derives
    * every anchor string from doc_id arithmetic + the source's first
    * word. */
  def anchorPageFromDocs(docs: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id",
                         linkSpace: Int = DefaultLinkSpace): DataFrame = {
    val first = coalesce(
      element_at(filter(split(col(textCol), "\\s+"), w => length(w) > 0), 1), lit(""))
    docs.select(col(idCol).as("doc_id"), escapeHtml(first).as("fw"),
        array((col(idCol) * 7 + 3) % linkSpace,
          (col(idCol) * 13 + 5) % linkSpace,
          (col(idCol) + 1) % linkSpace).as("ts"))
      .select(col("doc_id"), concat(
        lit("<html><body>\n<nav>"),
        concat_ws(" ", transform(col("ts"), d =>
          concat(lit("<a href=\"/doc/"), d.cast(StringType), lit("\">"),
            col("fw"), lit(" "), d.cast(StringType), lit("</a>")))),
        lit("</nav>\n</body></html>")).as("html"))
  }

  // ---------------------------------------------------------------
  // URL normalization + site keys (round-10: real hrefs are not all
  // /doc/<id> — crawl keys need resolution + canonicalization)
  // ---------------------------------------------------------------

  /** Scheme prefix of an absolute URL (RFC 3986 scheme charset). */
  private val SchemeRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://"

  /** Page-level robots directive — the other half of crawl politeness
    * after robots.txt path rules: a page that says `noindex` must not
    * enter the corpus no matter what the path rules allowed, and
    * `nofollow` cuts its outlinks from the frontier. One case-blind
    * regex pass over the head (attribute order tolerated left-of-
    * content; no lookaround — Java∩RE2); an absent tag is the empty
    * directive, meaning index+follow. Output: (doc_id, directive,
    * noindex, nofollow). */
  def metaRobots(pages: DataFrame, htmlCol: String = "html",
                 idCol: String = "doc_id"): DataFrame = {
    val content = lower(regexp_extract(col(htmlCol),
      "(?i)<meta[^>]*name=\"robots\"[^>]*content=\"([^\"]*)\"", 1))
    pages.select(col(idCol).as("doc_id"),
      content.as("directive"),
      content.rlike("\\bnoindex\\b").as("noindex"),
      content.rlike("\\bnofollow\\b").as("nofollow"))
  }

  /** Resolve `u` against an absolute `base` and canonicalize:
    *
    *  - fragment dropped (`#…` is client-side state, never a fetch key)
    *  - absolute / protocol-relative (`//host/p`) / root-relative
    *    (`/p`) / path-relative (`p`, `../p`) forms resolved against
    *    the base's scheme, authority, and directory
    *  - scheme and authority lowercased; default ports stripped
    *    (`:80` for http, `:443` for https)
    *  - dot segments collapsed: `/./` everywhere, then up to 4 levels
    *    of `seg/../` (a documented bound — real hrefs nest 1-2),
    *    leading `/../` residue dropped, empty path → `/`
    *
    * Query strings are preserved verbatim (collapse never crosses the
    * first `?`). Implemented as the native [[graft.functions.UrlResolve]]
    * expression (one codegen'd static call) — the equivalent Column
    * regex tree blew janino's 64 KB method limit and dropped every
    * carrying plan out of whole-stage codegen. */
  def urlNormalize(u: Column, base: Column): Column =
    graft.functions.UrlResolve.urlResolve(u, base)

  /** Lowercased host of a URL, port stripped. */
  def urlHost(u: Column): Column =
    lower(regexp_replace(regexp_extract(u, s"$SchemeRe([^/?#]*)", 1), ":[0-9]+$", ""))

  /** Multi-label public suffixes the registered-domain extractor
    * recognizes (a fixed subset of the public-suffix list — the full
    * list is data, not algorithm; swap in the real one at deploy). */
  val MultiPartSuffixes: Seq[String] = Seq(
    "co.uk", "ac.uk", "gov.uk", "org.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "com.br", "com.cn", "com.mx",
    "co.in", "co.kr", "com.sg", "com.tr")

  /** Registered domain (site key) of a host: last two labels, or last
    * three when the last two are a multi-label public suffix — the
    * key site clustering and per-source budget caps group on. */
  def registeredDomain(host: Column): Column = {
    val h = lower(regexp_replace(host, ":[0-9]+$", ""))
    val parts = split(h, "\\.")
    val last2 = concat_ws(".", slice(parts, -2, 2))
    val last3 = concat_ws(".", slice(parts, -3, 3))
    when(size(parts) <= 2, h)
      .when(last2.isin(MultiPartSuffixes: _*), last3)
      .otherwise(last2)
  }

  /** Path component of an absolute URL ("" for a schemeless string,
    * mirroring the normalizer's empty-on-no-match discipline). */
  def urlPath(u: Column): Column =
    regexp_extract(u, s"$SchemeRe[^/?#]*([^?#]*)", 1)

  /** Query-string parameters that exist only for click attribution —
    * the reason two fetches of the SAME resource carry different URLs.
    * The set is the widely published tracking-param core (UTM campaign
    * tags, Google/Facebook/Microsoft click ids, Mailchimp campaign
    * ids); real deployments extend the list as data. */
  val TrackingParamRe: String =
    "^(utm_[a-z]+|gclid|fbclid|msclkid|mc_cid|mc_eid|igshid)="

  /** Canonical fetch key of a (already normalized) URL modulo
    * tracking parameters: the query string is split on `&`, tracking
    * params and empty fragments drop, the survivors are SORTED (param
    * order is not semantic, and the sort makes `?a=1&b=2` and
    * `?b=2&a=1` the same dedup key), and a now-empty query drops its
    * `?`. One narrow higher-order-function projection — no shuffle,
    * no UDF, stays in whole-stage codegen. The DuckDB twin replays
    * the identical split/filter/sort pipeline. */
  def stripTrackingParams(u: Column): Column = {
    val qPos = instr(u, "?")
    val path = when(qPos > 0, u.substr(lit(1), qPos - 1)).otherwise(u)
    val query = when(qPos > 0, u.substr(qPos + 1, length(u))).otherwise(lit(""))
    val kept = filter(split(query, "&"),
      p => length(p) > 0 && !p.rlike(TrackingParamRe))
    val canon = array_join(array_sort(kept), "&")
    when(canon === "", path).otherwise(concat(path, lit("?"), canon))
  }

  /** UT1-style URL blocklist verdicts — the crawl front door's
    * category filter (adult/malware/tracker domain lists; the public
    * Université Toulouse 1 lists are the canonical example). Rules are
    * `(host, prefix)`: a URL matches when the rule host equals its
    * host OR is a dot-boundary suffix of it (`example.com` blocks
    * `www.example.com` — how domain blocklists are specified), and the
    * rule's path prefix (often empty = whole domain) prefixes its
    * path.
    *
    * Scale shape: a real blocklist is millions of rows — far too big
    * to broadcast into a suffix-match theta join (BroadcastNestedLoop
    * over 100 TB of URLs). Instead each URL EXPLODES its bounded
    * domain-suffix chain (`a.b.example.com` → itself + every suffix
    * with ≥ 2 labels — fan-out ≤ the label count, ~4 for real hosts)
    * and the match becomes a plain shuffled equi-join on the suffix,
    * partitioned like any hash join. Ambiguity resolves
    * deterministically: longest prefix, then host, wins.
    *
    * Output: one row per URL — `(url, blocked, rule_host,
    * rule_prefix)`, rule columns empty when allowed. */
  def blocklistFilter(urls: DataFrame, rules: DataFrame,
                      urlCol: String = "url"): DataFrame = {
    // two projections: aliasing `url` and referencing it inside the
    // suffix lambdas in ONE select trips Spark's lateral-column-alias
    // resolution under a Generate (INTERNAL_ERROR in 4.1)
    val prepared = urls.select(col(urlCol).as("url"))
      .withColumn("__path", urlPath(col("url")))
    val parts = split(urlHost(col("url")), "\\.")
    val n = size(parts)
    // suffix chain: drop i leading labels, keep >= 2 labels
    val suffixes = filter(
      transform(sequence(lit(0), n - 1),
        i => when(n - i >= 2, array_join(slice(parts, i + 1, n - i), "."))),
      s => s.isNotNull)
    val u = prepared.select(col("url"), col("__path"),
      explode(suffixes).as("__suffix"))
    val matched = u
      .join(rules.select(col("host").as("__suffix"), col("prefix").as("__prefix")),
        Seq("__suffix"))
      .where(startswith(col("__path"), col("__prefix")))
      .groupBy(col("url"))
      .agg(max(struct(length(col("__prefix")).as("l"), col("__suffix").as("h"),
        col("__prefix").as("p"))).as("best"))
      .select(col("url"), lit(true).as("blocked"),
        col("best.h").as("rule_host"), col("best.p").as("rule_prefix"))
    urls.select(col(urlCol).as("url")).distinct()
      .join(matched, Seq("url"), "left")
      .select(col("url"), coalesce(col("blocked"), lit(false)).as("blocked"),
        coalesce(col("rule_host"), lit("")).as("rule_host"),
        coalesce(col("rule_prefix"), lit("")).as("rule_prefix"))
  }

  /** All href edges of each page, RESOLVED + normalized against the
    * page URL — the general-form sibling of [[outlinks]] (which reads
    * only the fixture's `/doc/<id>` shape). Narrow projection + one
    * distinct; self-links dropped after normalization (a relative
    * href can resolve back to its own page). */
  def outlinksFull(pages: DataFrame, htmlCol: String = "html",
                   urlCol: String = "url"): DataFrame =
    pages
      .select(col(urlCol).as("src_url"),
        explode(regexp_extract_all(col(htmlCol), lit("(?i)href=\"([^\"]*)\""), lit(1))).as("href"))
      .select(col("src_url"), urlNormalize(col("href"), col("src_url")).as("dst_url"))
      .where(col("dst_url") =!= col("src_url"))
      .distinct()

  /** Host-id space of the URL-page fixture. */
  val SiteSpace: Int = 50

  /** Politeness-interleaved fetch schedule over a scored frontier:
    * `wave` = a URL's rank WITHIN its host (wave k is the k-th fetch
    * from that host — one per politeness interval, so a host is never
    * hit twice in a wave no matter how many of its URLs rank high),
    * `slot` = the deterministic cross-host order within a wave. A
    * priority-only frontier ordering hammers whichever host the link
    * graph currently loves; this is the standard mercator-style
    * host-queue interleave expressed relationally.
    *
    * Scale shape: two per-key windows (host-partitioned, then
    * wave-partitioned) — parallelism is host count then wave count,
    * no global sort; a hot host is one partition's sort, bounded by
    * its own frontier size. */
  def politeSchedule(frontier: DataFrame, hostCol: String = "host",
                     urlCol: String = "dst", scoreCol: String = "n_inlinks"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byHost = Window.partitionBy(col(hostCol)).orderBy(col(scoreCol).desc, col(urlCol))
    val withWave = frontier.withColumn("wave", row_number().over(byHost).cast(LongType))
    val byWave = Window.partitionBy(col("wave")).orderBy(col(scoreCol).desc, col(urlCol))
    withWave.withColumn("slot", row_number().over(byWave).cast(LongType))
  }

  /** Fixture host for site index k (k = id % [[SiteSpace]]): every
    * third site sits under a multi-label public suffix so
    * [[registeredDomain]] exercises both arms. Mirrored closed-form
    * by the url_normalize / site_components twins. */
  def fixtureHost(k: Column): Column =
    when(k % 3 === 0, concat(lit("site"), k.cast(StringType), lit(".shop.example.co.uk")))
      .otherwise(concat(lit("site"), k.cast(StringType), lit(".example.com")))

  /** URL-bearing page fixture: each doc gets a canonical page URL on
    * its fixture host and a nav whose three links hit the SAME
    * closed-form targets as [[pageFromDocs]] but in three raw forms —
    * absolute (uppercase scheme+host, default port, fragment),
    * root-relative (query string), and dot-segment relative — so
    * normalization, not just extraction, is what the oracle proves. */
  def urlPageFromDocs(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val id = col(idCol)
    def target(c: Column): Column = c % DefaultLinkSpace
    val t1 = target(id * 7 + 3)
    val t2 = target(id * 13 + 5)
    val t3 = target(id + 1)
    val url = concat(lit("https://"), fixtureHost(id % SiteSpace), lit("/doc/"), id.cast(StringType))
    val href1 = concat(lit("HTTP://"), upper(fixtureHost(t1 % SiteSpace)),
      lit(":80/doc/"), t1.cast(StringType), lit("#frag"))
    val href2 = concat(lit("/doc/"), t2.cast(StringType), lit("?ref=nav"))
    val href3 = concat(lit("../doc/"), t3.cast(StringType), lit("#s2"))
    docs.select(id.as("doc_id"), url.as("url"),
      concat(
        lit("<html><head><title><a href=\"/\">Graft Site</a></title></head>\n<body>\n<nav>"),
        lit("<a href=\""), href1, lit("\">abs</a> "),
        lit("<a href=\""), href2, lit("\">root</a> "),
        lit("<a href=\""), href3, lit("\">rel</a>"),
        lit("</nav>\n</body></html>")).as("html"))
  }

  /** Parse robots.txt bodies into (host, allow, prefix) rules — the
    * crawl-politeness front door (REP, RFC 9309, public). Lines are
    * comment-stripped and trimmed; a window carries the most recent
    * `User-agent:` forward so only rules in the wildcard (`*`) group
    * survive (a crawl pipeline filters for ITS agent once, at parse
    * time); empty-path Disallow lines mean "no restriction" per the
    * spec and drop. Robots files are tiny, so the per-host window is
    * bounded by one file's line count. */
  def robotsRules(robots: DataFrame, hostCol: String = "host",
                  contentCol: String = "content"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = robots
      .select(col(hostCol).as("host"),
        posexplode(split(col(contentCol), "\n")).as(Seq("pos", "raw")))
      .select(col("host"), col("pos"),
        trim(regexp_replace(col("raw"), "#.*$", "")).as("line"))
    val marked = lines.withColumn("ua",
      when(lower(col("line")).startsWith("user-agent:"),
        trim(expr("substring(line, 12)"))))
    val w = Window.partitionBy(col("host")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked.withColumn("grp", last(col("ua"), ignoreNulls = true).over(w))
      .where(col("grp") === "*")
      .select(col("host"),
        when(lower(col("line")).startsWith("allow:"), lit(true))
          .when(lower(col("line")).startsWith("disallow:"), lit(false)).as("allow"),
        when(lower(col("line")).startsWith("allow:"), trim(expr("substring(line, 7)")))
          .when(lower(col("line")).startsWith("disallow:"),
            trim(expr("substring(line, 10)"))).as("prefix"))
      .where(col("allow").isNotNull && length(col("prefix")) > 0)
  }

  /** Filter URLs by robots rules with the LONGEST-PREFIX-MATCH-wins
    * verdict (Allow wins exact-length ties — the documented
    * most-specific-rule resolution); URLs whose host has no matching
    * rule are allowed. Returns (url, allowed, rule) where `rule` is
    * the winning prefix ('' for the no-match default). One join on the
    * host key — the rule side is per-host small, the classic broadcast
    * dimension. */
  def robotsFilter(urls: DataFrame, rules: DataFrame, urlCol: String = "url"): DataFrame = {
    val u = urls.select(col(urlCol),
      urlHost(col(urlCol)).as("host"),
      regexp_extract(col(urlCol), s"$SchemeRe[^/?#]*(/[^?#]*)", 1).as("path"))
    val best = u.join(broadcast(rules), Seq("host"))
      .where(col("path").startsWith(col("prefix")))
      .groupBy(col(urlCol))
      .agg(max(struct(length(col("prefix")).as("l"),
        col("allow").cast(IntegerType).as("a"), col("prefix").as("p"))).as("b"))
    u.join(best, Seq(urlCol), "left")
      .select(col(urlCol),
        coalesce(col("b.a") === 1, lit(true)).as("allowed"),
        coalesce(col("b.p"), lit("")).as("rule"))
  }

  /** Per-block cleaned text: strip remaining (inline) tags to spaces,
    * decode entities, collapse whitespace, trim. */
  private def cleanBlock(b: Column): Column =
    trim(regexp_replace(unescapeHtml(regexp_replace(b, "<[^<>]*>", " ")), "\\s+", " "))

  /** Total anchor-text chars of a block (link-density numerator). */
  private def anchorLen(b: Column): Column =
    length(concat_ws("", regexp_extract_all(b, lit(AnchorRe), lit(1))))

  /** Main-text extraction. A block is kept iff its cleaned text has at
    * least `minLen` chars AND `anchorLen * densityDen <= len *
    * densityNum` (link density ≤ num/den — integer arithmetic, no
    * float threshold to flap the hash gate). Returns per page:
    * `n_blocks` (non-empty blocks seen), `n_kept`, and the extracted
    * `main_text` (kept blocks joined by single spaces). */
  /** Container elements whose CONTENT must vanish, not just their
    * tags: script and style bodies are code, and comments may contain
    * markup that must never be re-interpreted as structure (jusText
    * does the same removal first). `(?s)` + non-greedy work in both
    * Java regex and RE2; the unterminated-container case degrades to
    * tag-strip like any other malformed markup. */
  private def dropInert(h: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(h,
      "(?is)<script\\b[^>]*>.*?</script>", " "),
      "(?is)<style\\b[^>]*>.*?</style>", " "),
      "(?s)<!--.*?-->", " ")

  /** Shared boilerplate paragraph for the cross-document frequency
    * dedup fixture: zero anchors and plenty of text, so the DENSITY
    * gate keeps it on every page — it is exactly the link-free
    * boilerplate class (cookie banners, subscribe prompts, legal
    * footers) that per-page heuristics cannot catch and corpus-wide
    * paragraph-frequency dedup exists to remove. */
  val BoilerFixturePara: String =
    "<p>This site uses cookies to improve your browsing experience you can opt out at any time</p>\n"

  /** Kept blocks of each page as (doc_id, pos, para) ROWS — the
    * paragraph-granularity sibling of [[extractMain]] (same inert-drop
    * → block-split → clean → density gate), for operators that need
    * per-paragraph identity rather than the joined text: cross-corpus
    * paragraph-frequency dedup, paragraph-level near-dup, line rules.
    * `pos` is the block's index among the KEPT blocks in document
    * order. Pages with zero kept blocks emit no rows. Still a narrow
    * projection — posexplode adds no shuffle. */
  def extractBlocks(pages: DataFrame, htmlCol: String = "html", idCol: String = "doc_id",
                    minLen: Int = 1, densityNum: Int = 1, densityDen: Int = 3): DataFrame = {
    val blocks = split(dropInert(col(htmlCol)), BlockTagRe)
    val scored = transform(blocks, b => struct(
      cleanBlock(b).as("txt"), anchorLen(b).as("alen")))
    val nonEmpty = filter(scored, s => length(s.getField("txt")) > 0)
    val kept = filter(nonEmpty, s =>
      length(s.getField("txt")) >= minLen &&
        s.getField("alen") * densityDen <= length(s.getField("txt")) * densityNum)
    pages
      .select(col(idCol).as("doc_id"), transform(kept, s => s.getField("txt")).as("ps"))
      .select(col("doc_id"), posexplode(col("ps")).as(Seq("pos", "para")))
  }

  def extractMain(pages: DataFrame, htmlCol: String = "html", idCol: String = "doc_id",
                  minLen: Int = 1, densityNum: Int = 1, densityDen: Int = 3): DataFrame = {
    val blocks = split(dropInert(col(htmlCol)), BlockTagRe)
    val scored = transform(blocks, b => struct(
      cleanBlock(b).as("txt"), anchorLen(b).as("alen")))
    val nonEmpty = filter(scored, s => length(s.getField("txt")) > 0)
    val kept = filter(col("ne"), s =>
      length(s.getField("txt")) >= minLen &&
        s.getField("alen") * densityDen <= length(s.getField("txt")) * densityNum)
    // crawl metadata (lang, fetch time, …) rides through untouched —
    // the Corpus.chunk passthrough convention
    val passthrough = pages.columns.filter(c => c != htmlCol && c != idCol).map(col).toSeq
    pages
      .select(col(idCol).as("doc_id") +: nonEmpty.as("ne") +: passthrough: _*)
      .select(col("doc_id") +:
        size(col("ne")).cast(LongType).as("n_blocks") +:
        size(kept).cast(LongType).as("n_kept") +:
        concat_ws(" ", transform(kept, s => s.getField("txt"))).as("main_text") +:
        passthrough: _*)
  }

  /** HTML table extraction — tables are the structured-data payload
    * of a crawl (table-to-text, QA-over-tables, schema induction all
    * train on them), and lifting them to a (doc, table, row, col,
    * cell) relation is the front-door operation. Grammar: nested
    * non-greedy extraction — tables, then `<tr>` rows, then `<th>`/
    * `<td>` cells (header cells ordered before data cells within a
    * mixed row; the fixture and real markup rarely mix). Tag
    * recognition follows the module's standard (BlockTagRe, the
    * round-9 lesson): case-insensitive, attribute-tolerant
    * `(?i)<tag\b[^>]*>` — real crawled markup is
    * `<TABLE class="wikitable">`, `<td colspan=2>`, `<TR>` (VERDICT
    * r16 #3: the old bare-lowercase literal grammar extracted NOTHING
    * from them). The non-greedy body capture makes the grammar
    * NON-NESTING: a `<table>` nested inside another ends the outer
    * capture at the inner `</table>`, so nested tables are out of
    * grammar (their rows flatten into the enclosing capture);
    * reject-or-repair for that malformed class is downstream policy
    * via [[tableShapes]]. Three chained generators, each a codegen'd
    * regexp_extract_all + posexplode — zero UDF, zero shuffle,
    * scales like the rest of the page front door. */
  def extractTables(pages: DataFrame, htmlCol: String = "html",
                    idCol: String = "doc_id"): DataFrame = {
    val tablePat = lit("(?is)<table\\b[^>]*>(.*?)</table\\s*>")
    val rowPat = lit("(?is)<tr\\b[^>]*>(.*?)</tr\\s*>")
    val thPat = lit("(?is)<th\\b[^>]*>(.*?)</th\\s*>")
    val tdPat = lit("(?is)<td\\b[^>]*>(.*?)</td\\s*>")
    val one = lit(1)
    pages
      .select(col(idCol).cast(LongType).as("doc_id"),
        posexplode(regexp_extract_all(col(htmlCol), tablePat, one))
          .as(Seq("__t", "__table")))
      .select(col("doc_id"), (col("__t") + 1).cast(LongType).as("table_idx"),
        posexplode(regexp_extract_all(col("__table"), rowPat, one))
          .as(Seq("__r", "__row")))
      .select(col("doc_id"), col("table_idx"),
        (col("__r") + 1).cast(LongType).as("row_idx"),
        size(regexp_extract_all(col("__row"), thPat, one)).as("__nth"),
        posexplode(concat(
          regexp_extract_all(col("__row"), thPat, one),
          regexp_extract_all(col("__row"), tdPat, one)))
          .as(Seq("__c", "cell")))
      .select(col("doc_id"), col("table_idx"), col("row_idx"),
        (col("__c") + 1).cast(LongType).as("col_idx"),
        (col("__c") < col("__nth")).as("is_header"), col("cell"))
  }

  /** Per-table shape summary over [[extractTables]] output: row and
    * column counts, header presence, and the `ragged` flag (rows of
    * unequal width — the malformed-table class a downstream
    * table-reasoning pipeline must drop or repair). One groupBy per
    * grain, hash-partitioned on the table key. */
  def tableShapes(cells: DataFrame): DataFrame =
    cells.groupBy(col("doc_id"), col("table_idx"), col("row_idx"))
      .agg(count(lit(1)).as("__w"), max(col("is_header")).as("__h"))
      .groupBy(col("doc_id"), col("table_idx"))
      .agg(count(lit(1)).as("n_rows"), max(col("__w")).as("n_cols"),
        max(col("__h")).as("has_header"),
        (countDistinct(col("__w")) > 1).as("ragged"))

  /** Deterministic HTML-table fixture over a documents relation:
    * docs `%31!=0` carry a 3-row table (th header + two td rows keyed
    * on `%7/%13/%5`), docs `%19==0` append a second single-row table,
    * docs `%11==0` make the first table RAGGED (the second data row
    * loses a cell), docs `%31==0` have no table at all.
    *
    * Markup variants (VERDICT r16 #3 — the hash oracle must prove the
    * WIDENED grammar, not just the bare-tag case): docs `%3==0`
    * render the first table in real-crawl style — `<TABLE
    * CLASS="wikitable">`, `<TR>`, `<TH scope=col>`, `<TD colspan=2>`
    * on the 'a' cell — and the appended `%19` table always carries
    * `<table border=1>`. Cell CONTENT is identical across variants,
    * so the closed-form oracle twin (fixture arithmetic, no regex)
    * is untouched: a narrow extractor hash-mismatches, the tolerant
    * one stays green. */
  def tablesFromDocs(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val html =
      s"""concat('<h1>doc ', $idCol, '</h1>',
         |  CASE WHEN $idCol % 31 = 0 THEN ''
         |  WHEN $idCol % 3 = 0 THEN concat(
         |    '<TABLE CLASS="wikitable"><TR><TH scope=col>k</TH><TH scope=col>v</TH></TR>',
         |    '<TR><TD colspan=2>a ', $idCol % 7, '</TD><TD>', $idCol % 13, '</TD></TR>',
         |    CASE WHEN $idCol % 11 = 0
         |      THEN concat('<TR><TD>b ', $idCol % 5, '</TD></TR>')
         |      ELSE concat('<TR><TD>b</TD><TD>', $idCol % 5, '</TD></TR>') END,
         |    '</TABLE>')
         |  ELSE concat(
         |    '<table><tr><th>k</th><th>v</th></tr>',
         |    '<tr><td>a ', $idCol % 7, '</td><td>', $idCol % 13, '</td></tr>',
         |    CASE WHEN $idCol % 11 = 0
         |      THEN concat('<tr><td>b ', $idCol % 5, '</td></tr>')
         |      ELSE concat('<tr><td>b</td><td>', $idCol % 5, '</td></tr>') END,
         |    '</table>') END,
         |  CASE WHEN $idCol % 19 = 0
         |    THEN concat('<table border=1><tr><td>x</td><td>', $idCol % 3, '</td></tr></table>')
         |    ELSE '' END,
         |  '<p>tail</p>')""".stripMargin
    docs.select(col(idCol).cast(LongType).as("doc_id"), expr(html).as("html"))
  }
}
