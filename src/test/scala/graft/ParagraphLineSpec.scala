package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Html, TextQuality}

/** Paragraph-granularity corpus cleaning: extractBlocks row lifting,
  * cross-corpus paragraph-frequency dedup, C4 line rules, and
  * latest-fetch snapshot dedup. */
class ParagraphLineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // -------------------------------------------------- extractBlocks

  test("extractBlocks lifts kept blocks to ordered rows; dropped blocks never get a pos") {
    val html = "<nav><a href=\"/\">Home</a> <a href=\"/x\">About</a></nav>" +
      "<p>first real paragraph</p><p>second real paragraph</p>" +
      "<footer><a href=\"#\">Terms</a></footer>"
    val rows = Html.extractBlocks(Seq((7L, html)).toDF("doc_id", "html"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(rows === Seq((7L, 0, "first real paragraph"), (7L, 1, "second real paragraph")))
  }

  test("extractBlocks emits nothing for a page with no kept blocks") {
    val html = "<nav><a href=\"/\">Only chrome</a></nav>"
    assert(Html.extractBlocks(Seq((1L, html)).toDF("doc_id", "html")).count() === 0L)
  }

  // ------------------------------------------------ paragraphDedup

  private def paras(rows: (Long, Int, String)*) =
    rows.toDF("doc_id", "pos", "para")

  test("paragraphDedup drops cross-document repeats, keeps unique paragraphs in order") {
    val in = paras(
      (1L, 0, "shared cookie banner"), (1L, 1, "alpha body"), (1L, 2, "beta body"),
      (2L, 0, "shared cookie banner"), (2L, 1, "gamma body"),
      (3L, 0, "shared cookie banner"))
    val got = Dedup.paragraphDedup(in).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got === Seq(
      (1L, 3L, 2L, "alpha body beta body"),
      (2L, 2L, 1L, "gamma body"),
      (3L, 1L, 0L, "")))
  }

  test("paragraphDedup df is per-DOCUMENT, not per-occurrence: within-doc repeats survive maxDf=1") {
    val in = paras((1L, 0, "repeat me"), (1L, 1, "repeat me"), (1L, 2, "tail"))
    val got = Dedup.paragraphDedup(in).collect().map(r =>
      (r.getLong(1), r.getLong(2), r.getString(3))).head
    assert(got === ((3L, 3L, "repeat me repeat me tail")))
  }

  test("paragraphDedup maxDf=2 keeps pair-shared paragraphs, still drops broad boilerplate") {
    val in = paras(
      (1L, 0, "in two docs"), (2L, 0, "in two docs"),
      (1L, 1, "in three docs"), (2L, 1, "in three docs"), (3L, 0, "in three docs"))
    val got = Dedup.paragraphDedup(in, maxDf = 2).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(3))).toSeq
    assert(got === Seq((1L, "in two docs"), (2L, "in two docs"), (3L, "")))
  }

  test("paragraphDedup reassembly respects pos order, not arrival order") {
    val in = paras((1L, 2, "c"), (1L, 0, "a"), (1L, 1, "b"))
    assert(Dedup.paragraphDedup(in).collect().head.getString(3) === "a b c")
  }

  // -------------------------------------------------- c4LineFilter

  private def lines(rows: (Long, Int, String)*) =
    rows.toDF("doc_id", "pos", "line")

  test("c4LineFilter rule matrix: each tell fires independently") {
    val in = lines(
      (1L, 0, "This sentence has five good words."),     // kept
      (1L, 1, "No terminal punctuation on this line"),   // punct rule
      (1L, 2, "Too short."),                             // minWords rule
      (1L, 3, "Please enable JavaScript to continue browsing."), // javascript (case-insens)
      (1L, 4, "Lorem Ipsum dolor sit amet consectetur."), // lorem ipsum (case-insens)
      (1L, 5, "A code block looks like { this } here."),  // brace rule
      (1L, 6, "Questions also count as terminal marks?"), // kept
      (1L, 7, "He said \"quotes count as terminal.\""))   // kept (closing quote)
    val r = TextQuality.c4LineFilter(in).collect().head
    assert(r.getLong(1) === 8L)
    assert(r.getLong(2) === 3L)
    assert(r.getString(3) === "This sentence has five good words. " +
      "Questions also count as terminal marks? He said \"quotes count as terminal.\"")
    assert(r.getBoolean(4) === true) // 3 kept >= minKeptLines
  }

  test("c4LineFilter page gate: below minKeptLines the page flag drops") {
    val in = lines(
      (1L, 0, "Only one surviving sentence lives here."),
      (1L, 1, "nope"),
      (2L, 0, "First good sentence with enough words."),
      (2L, 1, "Second good sentence with enough words."),
      (2L, 2, "Third good sentence with enough words."))
    val got = TextQuality.c4LineFilter(in).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(4))).toSeq
    assert(got === Seq((1L, false), (2L, true)))
  }

  test("c4LineFilter matches an independent Scala fold on the page fixture lines") {
    val docs = Seq((4L, "alpha beta gamma delta epsilon zeta eta theta"),
      (5L, "one two three")).toDF("doc_id", "text")
    val in = docs.select(col("doc_id"), posexplode(split(col("text"), " ", 4)))
      .toDF("doc_id", "pos", "line")
      .withColumn("line", concat(col("line"), lit(" tail words for length.")))
    val got = TextQuality.c4LineFilter(in, minWords = 5).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    // every decorated line ends '.', words = split-part words + 4 appended
    val exp = Seq((4L, 4L), (5L, 3L))
    assert(got === exp)
  }

  // ------------------------------------------- paraIngestBatch

  private def mkParaStore(): (String, String) = {
    val store = java.nio.file.Files.createTempDirectory("pl-parastore").toString
    graft.streaming.BatchStore(store).seed(spark.range(0).select(col("id").as("ph")))
    val out = java.nio.file.Files.createTempDirectory("pl-paraout").toString
    (store, out)
  }

  test("paraIngestBatch: first occurrence wins within a batch AND across batches") {
    val (store, out) = mkParaStore()
    graft.streaming.IngestPipeline.paraIngestBatch(
      paras((1L, 0, "shared"), (1L, 1, "alpha"), (2L, 0, "shared")), 0L, store, out)
    graft.streaming.IngestPipeline.paraIngestBatch(
      paras((3L, 0, "shared"), (3L, 1, "beta")), 1L, store, out)
    val got = spark.read.parquet(out).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSeq
    assert(got === Seq((1L, 2L, "shared alpha"), (2L, 0L, ""), (3L, 1L, "beta")))
  }

  test("paraIngestBatch replay is idempotent: a re-delivered batch sees its original store") {
    val (store, out) = mkParaStore()
    graft.streaming.IngestPipeline.paraIngestBatch(
      paras((1L, 0, "first")), 0L, store, out)
    graft.streaming.IngestPipeline.paraIngestBatch(
      paras((2L, 0, "first"), (2L, 1, "second")), 1L, store, out)
    val before = spark.read.parquet(out).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(3))).toSeq
    // replay batch 1 verbatim — must overwrite, not duplicate or re-dedup
    graft.streaming.IngestPipeline.paraIngestBatch(
      paras((2L, 0, "first"), (2L, 1, "second")), 1L, store, out)
    val after = spark.read.parquet(out).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(3))).toSeq
    assert(before === Seq((1L, "first"), (2L, "second")))
    assert(after === before)
  }

  // ---------------------------------------------------- spanScrub

  test("spanScrub removes exactly the lines inside benchmark-matching spans") {
    val bench = lines((100L, 0, "eval a"), (100L, 1, "eval b"), (100L, 2, "eval c"))
    val corpus = lines(
      (1L, 0, "intro"), (1L, 1, "eval a"), (1L, 2, "eval b"), (1L, 3, "eval c"), (1L, 4, "outro"),
      (2L, 0, "eval a"), (2L, 1, "different"), (2L, 2, "eval c"))
    val got = graft.operators.Corpus.spanScrub(corpus, bench).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got === Seq(
      (1L, 5L, 3L, "intro outro"), // the matching 3-line span cut, rest kept
      (2L, 3L, 0L, "eval a different eval c"))) // partial overlap is NOT a span match
  }

  test("spanScrub overlapping contaminated spans union their removals") {
    val bench = lines(
      (100L, 0, "x"), (100L, 1, "x"), (100L, 2, "x"))
    val corpus = lines((1L, 0, "x"), (1L, 1, "x"), (1L, 2, "x"), (1L, 3, "x"), (1L, 4, "keep me."))
    // spans (0,1,2) and (1,2,3) both match → positions 0-3 removed once
    val r = graft.operators.Corpus.spanScrub(corpus, bench).collect().head
    assert((r.getLong(1), r.getLong(2), r.getString(3)) === ((5L, 4L, "keep me.")))
  }

  // ------------------------------------------------ robots parsing

  test("robotsRules: wildcard group only, comments stripped, empty Disallow dropped") {
    val content = "# top comment\nUser-agent: badbot\nDisallow: /\n\n" +
      "User-agent: *\nDisallow: /a/ # inline comment\nAllow: /a/b/\nDisallow:\n" +
      "User-agent: otherbot\nDisallow: /c/\n"
    val rules = Html.robotsRules(Seq(("h", content)).toDF("host", "content"))
      .collect().map(r => (r.getBoolean(1), r.getString(2))).toSet
    assert(rules === Set((false, "/a/"), (true, "/a/b/")))
  }

  test("robotsFilter: longest prefix wins, Allow wins length ties, no match allows") {
    val rules = Seq(
      ("h", false, "/a/"), ("h", true, "/a/b/"),
      ("h", false, "/t/"), ("h", true, "/t/")).toDF("host", "allow", "prefix")
    val urls = Seq("https://h/a/x", "https://h/a/b/x", "https://h/t/x", "https://h/free")
      .toDF("url")
    val got = Html.robotsFilter(urls, rules).orderBy("url")
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getString(2))).toSeq
    assert(got === Seq(
      ("https://h/a/b/x", true, "/a/b/"),  // longer Allow overrides /a/
      ("https://h/a/x", false, "/a/"),
      ("https://h/free", true, ""),        // no rule → allowed
      ("https://h/t/x", true, "/t/")))     // exact-length tie → Allow
  }

  // -------------------------------------------------- anchorTexts

  test("anchorTexts pairs href with its own text, decodes entities, drops self-links") {
    val pages = Seq(
      (1L, "<a href=\"/doc/9\">caf&eacute; guide</a> <a href=\"/doc/1\">self</a>" +
        " <a href=\"/doc/9\">caf&eacute;   guide</a>"), // same text after collapse
      (2L, "<a href=\"/doc/9\">other wording</a>")).toDF("doc_id", "html")
    val got = Html.anchorTexts(pages).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    // dst 9: two sources, two distinct variants; the self-link to 1 vanished
    assert(got === Seq((9L, 2L, 2L, "café guide")))
  }

  // --------------------------------------------- gopherQualityGate

  test("gopher gate: each band fails independently, a good doc passes") {
    val the50 = Seq.fill(25)("the story").mkString(" ") // 50 words, stopwords, alpha
    val rows = Seq(
      (1L, the50),                                      // passes every band
      (2L, "the a of and too short doc"),               // n_words < 50
      (3L, Seq.fill(50)("surprisingly").mkString(" ") + " the a"), // mean len > 10
      (4L, Seq.fill(48)("12345").mkString(" ") + " the a"),        // alpha_frac < 0.8
      (5L, Seq.fill(50)("word").mkString(" ")))         // no stopword hits
    val got = graft.operators.TextQuality.gopherQualityGate(rows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getBoolean(5))).toSeq
    assert(got === Seq((1L, true), (2L, false), (3L, false), (4L, false), (5L, false)))
  }

  // ----------------------------------------- gopherRepetitionGate

  test("gopher repetition: coverage fractions match hand arithmetic") {
    val doc = "xx yy xx yy zz" // 5 tokens, 10 chars
    val r = graft.operators.TextQuality.gopherRepetitionGate(
      Seq((1L, doc)).toDF("doc_id", "text")).collect().head
    // bigrams: "xx yy"(2), "yy xx"(1), "yy zz"(1) → top = 2 occ × 4 chars / 10
    assert(r.getAs[Double]("top_2_frac") === 0.8)
    // the only duplicated gram size is n=2; all n>=5 dup fractions are 0
    assert(r.getAs[Double]("dup_5_frac") === 0.0)
    // trigram top: every trigram unique → 1 occ × 6 chars / 10
    assert(r.getAs[Double]("top_3_frac") === 0.6)
  }

  test("gopher repetition: a looping doc fails, varied prose passes") {
    val loop = Seq.fill(30)("buy cheap pills now").mkString(" ")
    val prose = (1 to 60).map(i => s"w$i").mkString(" ")
    val got = graft.operators.TextQuality.gopherRepetitionGate(
      Seq((1L, loop), (2L, prose)).toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getAs[Boolean]("keep"))).toSeq
    assert(got === Seq((1L, false), (2L, true)))
  }

  // ------------------------------------------------ latestSnapshot

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    val oldS = Seq(("u1", "a"), ("u2", "b"), ("u3", "c")).toDF("url", "html")
    val newS = Seq(("u2", "b"), ("u3", "CHANGED"), ("u4", "d")).toDF("url", "html")
    val got = Dedup.snapshotDiff(oldS, newS).orderBy("url")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got === Seq(("u1", "removed"), ("u2", "unchanged"),
      ("u3", "changed"), ("u4", "added")))
  }

  test("latestSnapshot keeps the newest fetch and counts snapshots; singletons pass through") {
    val recs = Seq(
      ("https://a/0", 100L, "old body"),
      ("https://a/0", 200L, "new body"),
      ("https://b/1", 150L, "only body")).toDF("url", "fetch_ts", "html")
    val got = Dedup.latestSnapshot(recs).orderBy("url")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === Seq(("https://a/0", 200L, "new body", 2L), ("https://b/1", 150L, "only body", 1L)))
  }

  test("latestSnapshot timestamp ties break deterministically on the payload") {
    val recs = Seq(("u", 100L, "aaa"), ("u", 100L, "zzz")).toDF("url", "fetch_ts", "html")
    // max of (ts, html) struct: lexicographic → 'zzz' wins, every run
    assert(Dedup.latestSnapshot(recs).collect().head.getString(2) === "zzz")
  }
}
