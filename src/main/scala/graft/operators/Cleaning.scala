package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-cleaning / PII-redaction operators for corpus curation
  * (SURVEY.md §2.11 [NS]). A production training-data build scrubs
  * markup and contact details BEFORE dedup/quality so near-identical
  * pages collapse and no address survives into the training set.
  *
  * Every transform here is a narrow, zero-shuffle projection built
  * from codegen'd regexp expressions — it scales linearly and fuses
  * into whatever scan precedes it. The regexes are deliberately kept
  * inside the RE2-compatible subset (no backrefs, no lookaround) so
  * the DuckDB oracle evaluates the identical pattern.
  */
object Cleaning {

  /** Email addresses (conservative: no quoted local parts). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** http/https URLs up to the next whitespace. */
  val UrlRe = "https?://[^\\s]+"

  /** C0 control characters + DEL (tab/newline are handled by the
    * whitespace collapse, but stray NUL/VT/escape bytes in scraped
    * text must not survive into training data). */
  val CtrlRe = "[\\x00-\\x08\\x0b-\\x1f\\x7f]"

  /** SGML/HTML tags: anything between angle brackets with no nested
    * '<' — the standard tag-stripping approximation (comments and
    * CDATA degrade to their inner text, never to markup). */
  val TagRe = "<[^<>]*>"

  /** Strip markup: drop tags, then decode the five predefined XML
    * entities. Entity decode runs AFTER tag removal, so text that
    * spells out markup (`&lt;b&gt;`) decodes to visible text and is
    * never re-interpreted as a tag. */
  def stripMarkup(c: Column): Column = {
    val noTags = regexp_replace(c, TagRe, " ")
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
        "&amp;" -> "&") // amp LAST: "&amp;lt;" must yield "&lt;", not "<"
      .foldLeft(noTags) { case (acc, (e, ch)) => regexp_replace(acc, e, ch) }
  }

  /** Redact URLs then emails (URLs first — a userinfo URL contains an
    * '@' and must be swallowed whole, not half-matched as an email). */
  def redact(c: Column): Column =
    regexp_replace(regexp_replace(c, UrlRe, "<URL>"), EmailRe, "<EMAIL>")

  /** Collapse whitespace runs to one space and trim the ends; strip
    * control characters first so they can't glue tokens together.
    * After [[CtrlRe]] (which maps \x0B to a space) the runs left are
    * exactly [[TextOps.TokenSepRe]]'s. */
  def normalizeWhitespace(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, CtrlRe, " "), TextOps.TokenSepRe, " "))

  /** Full cleaning pass: markup strip → URL/email redaction →
    * control-char strip + whitespace collapse, with match counts kept
    * as per-document curation features. Emails are counted on the
    * URL-redacted text, so the counts agree exactly with what the
    * clean text had redacted (a userinfo URL's embedded address is a
    * URL, not an email). Output: doc_id, n_urls, n_emails, clean. */
  def clean(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val unmarked = stripMarkup(col(textCol))
    val noUrls = regexp_replace(unmarked, UrlRe, "<URL>")
    docs.select(
      col(idCol).as("doc_id"),
      size(regexp_extract_all(unmarked, lit(UrlRe), lit(0))).cast(LongType).as("n_urls"),
      size(regexp_extract_all(noUrls, lit(EmailRe), lit(0))).cast(LongType).as("n_emails"),
      normalizeWhitespace(regexp_replace(noUrls, EmailRe, "<EMAIL>")).as("clean"))
  }

  /** Payment-card candidates: 13-19 digits, single optional space or
    * dash between digit pairs, word-bounded — the shape-level filter.
    * Validation is [[luhnValid]]; the shape alone matches order ids
    * and timestamps, which is why counting matches without a checksum
    * over-redacts. RE2-compatible (no lookaround). */
  val CardRe = "\\b\\d(?:[ -]?\\d){12,18}\\b"

  /** Luhn checksum (ISO/IEC 7812, public domain) over a digits-only
    * string: from the rightmost digit, double every second digit,
    * subtract 9 when the double exceeds 9, valid iff the sum is a
    * multiple of 10. Pure integer arithmetic over codegen'd
    * higher-order functions — identical on both oracle engines. */
  def luhnValid(ds: Column): Column = {
    val n = length(ds)
    def digit(i: Column): Column = ds.substr(n - i + 1, lit(1)).cast(IntegerType)
    val total = aggregate(sequence(lit(1), n), lit(0), (acc, i) => {
      val d = digit(i)
      acc + when(i % 2 === 0, when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    total % 10 === 0
  }

  /** Detect and redact Luhn-valid payment-card numbers: candidates by
    * shape ([[CardRe]]), validated by checksum, each valid match
    * replaced with `<CARD>` (exact-string replace folded over the
    * candidate list in document order). Luhn-INVALID candidates are
    * counted but left in place — an order id shaped like a card is
    * data, not PII.
    *
    * Known over-redaction edge: the fold is a plain substring
    * replace, so a digit string IDENTICAL to a Luhn-valid candidate
    * but embedded in a longer digit run (which [[CardRe]]'s word
    * boundaries exclude from candidacy) is also rewritten — erring
    * toward redaction is the deliberate trade for a single
    * zero-regex-compile pass; a boundary-anchored splice would keep
    * such runs but costs a per-candidate regex. The DuckDB twin
    * mirrors the fold exactly. Zero-shuffle narrow projection like [[clean]];
    * the Luhn fold is integer arithmetic over a ≤19-element sequence
    * per candidate. Output: (doc_id, n_candidates, n_cards, clean). */
  def scrubCards(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val cands = regexp_extract_all(col(textCol), lit(CardRe), lit(0))
    val valids = filter(cands, c => luhnValid(regexp_replace(c, "[ -]", "")))
    docs.select(
      col(idCol).as("doc_id"),
      size(cands).cast(LongType).as("n_candidates"),
      size(valids).cast(LongType).as("n_cards"),
      aggregate(valids, col(textCol), (acc, c) => replace(acc, c, lit("<CARD>"))).as("clean"))
  }

  /** Deterministic card-bearing fixture (the text_clean device: the
    * corpus has no card numbers, so the dirt is stitched on
    * identically by both oracle engines). doc_id mod 4 selects none /
    * a valid card / an invalid candidate / both; the constants are
    * standard industry TEST numbers (public), rotated by doc_id so
    * every format (plain, dashed, spaced, 15-digit) appears. */
  val TestCards = Seq("4111111111111111", "4012-8888-8888-1881",
    "3782 822463 10005", "5555555555554444")
  val TestNonCards = Seq("4111111111111112", "1234 5678 9012 3456")

  /** The card-dirt suffix for a given id column — exposed so streaming
    * compositions can stitch the SAME deterministic fixture per
    * micro-batch. */
  def cardFixtureSuffix(id: Column): Column = {
    def pick(xs: Seq[String], k: Column): Column =
      element_at(array(xs.map(lit): _*), (k % xs.size).cast(IntegerType) + 1)
    val rot = floor(id / 4).cast(LongType)
    when(id % 4 === 0, concat(lit(" pay "), pick(TestCards, rot), lit(" now")))
      .when(id % 4 === 1, concat(lit(" ref "), pick(TestNonCards, rot), lit(" code")))
      .when(id % 4 === 2, concat(lit(" card "), pick(TestCards, rot),
        lit(" and "), pick(TestNonCards, rot), lit(" tail")))
      .otherwise(lit(""))
  }

  def cardFixtureFromDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(col("text"), cardFixtureSuffix(col("doc_id"))).as("text"))

  /** Unicode-confusable (homoglyph) table, Cyrillic + Greek lookalikes
    * → their Latin skeletons — the UTS #39 confusables idea reduced to
    * the high-frequency script-mixing set. Spoofed text ("sаle" with a
    * Cyrillic а) defeats every content-hash dedup and URL/domain
    * comparison in the engine unless folded first; one translate()
    * call, cross-engine-identical by construction. The two strings are
    * THE constant both engines derive from. */
  val ConfusablesFrom: String =
    "аеорсухіјѕ" + // а е о р с у х і ј ѕ
    "αονρικυτ" +             // α ο ν ρ ι κ υ τ
    "АЕОРСХВНКМТ" // А Е О Р С Х В Н К М Т
  val ConfusablesTo: String = "aeopcyxijs" + "aovpikut" + "AEOPCXBHKMT"

  /** Fold confusable codepoints to their Latin skeletons. */
  def homoglyphNormalize(c: Column): Column =
    translate(c, ConfusablesFrom, ConfusablesTo)

  /** The REVERSE map (Latin → Cyrillic lowercase lookalikes) for the
    * deterministic spoof fixture: the corpus is pure ASCII, so spoofed
    * twins must be planted, the card_scrub device. Bijective over its
    * domain, so normalize(spoof(x)) == x exactly. */
  def homoglyphSpoof(c: Column): Column =
    translate(c, "aeopcyx", "аеорсух")

  /** North-American phone shapes: optional "+1 " country prefix,
    * optional parens around the area code, space/dash separators.
    * RE2-compatible (no lookaround). No LEADING \b: a boundary can
    * never sit between space and '+' (both non-word), which would
    * strand the '+' outside the redaction; the trailing \b keeps
    * longer digit runs out. */
  val PhoneRe = "(?:\\+1 )?\\(?\\d{3}\\)?[ -]?\\d{3}-\\d{4}\\b"

  /** Dotted-quad IPv4 shape (no octet-range check — the scrub errs
    * toward redaction like [[scrubCards]]). */
  val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** PII scan beyond [[clean]]'s URL/email pass: count and redact
    * phone numbers and IPv4 addresses. Phones scrub FIRST — an IP
    * can't contain a phone but a phone's digit run must never be
    * half-eaten by a greedy dotted-quad miss. Zero-shuffle narrow
    * projection; counts agree exactly with what the clean text had
    * redacted. Output: (doc_id, n_phones, n_ips, clean). */
  def piiScan(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val noPhones = regexp_replace(col(textCol), PhoneRe, "<PHONE>")
    docs.select(
      col(idCol).as("doc_id"),
      size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0))).cast(LongType).as("n_phones"),
      size(regexp_extract_all(noPhones, lit(Ipv4Re), lit(0))).cast(LongType).as("n_ips"),
      regexp_replace(noPhones, Ipv4Re, "<IP>").as("clean"))
  }

  /** Deterministic phone/IP dirt, the [[cardFixtureSuffix]] device. */
  def piiFixtureSuffix(id: Column): Column =
    when(id % 5 === 0, lit(" call 555-867-5309 now"))
      .when(id % 5 === 1, lit(" from 192.168.1.77 seen"))
      .when(id % 5 === 2, lit(" dial +1 (415) 555-0199 via 10.0.0.255 today"))
      .otherwise(lit(""))
}
