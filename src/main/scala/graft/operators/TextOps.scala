package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim}
import org.apache.spark.sql.functions._
import graft.functions.CleanTokens

/** The reference's entire query surface — word count over whitespace
  * tokens with C-`ispunct` stripping and lowercasing (reference
  * Map_Reduce_Code/map_reduce.cpp:152-236) — plus close variants,
  * expressed as declarative DataFrame transforms so Catalyst plans the
  * same physical shape the reference hand-rolls: scan → generate
  * (explode) → project/filter → partial HashAggregate → Exchange
  * (hashpartitioning, the reference's MPI shuffle) → final
  * HashAggregate → sort.
  */
object TextOps {

  /** Exact ASCII class matched by C `ispunct` in the C locale
    * (reference map_reduce.cpp:160-165): `!`..`/`, `:`..`@`,
    * `[`..`` ` ``, `{`..`~`. Deliberately NOT Unicode `\p{Punct}`,
    * for oracle agreement on non-ASCII corpora (SURVEY.md §7.4). */
  val IspunctClass: String = "[!-/:-@\\[-`{-~]"

  /** The tokenizer's separator class, shared by every text operator.
    * EXPLICIT [ \t\n\f\r] rather than the regex \s: Java's \s includes
    * vertical tab (\x0B) while RE2's (DuckDB, the oracle engine) does
    * not, so \s-split tokenizers are not identical by construction
    * across engines. The C++ reference's `ifstream >> string`
    * (map_reduce.cpp:159) skips the C locale's isspace set, which DOES
    * include \x0B — a deliberate, documented divergence on a character
    * that occurs in no real corpus, traded for cross-engine exactness
    * on the ones that do. */
  val TokenSepRe: String = "[ \t\n\f\r]+"

  /** Whitespace tokenization — same token multiset as the reference's
    * per-stream `ifstream >> string` (map_reduce.cpp:159; see
    * [[TokenSepRe]] for the \x0B caveat). */
  def tokens(text: Column): Column = split(text, TokenSepRe)

  /** The non-empty raw tokens of `text`, in order: [[tokens]] without
    * the `""` a leading or trailing separator (or an empty document)
    * leaves. The shingle, stopword and token-count operators use it;
    * keep [[tokens]] only where raw positions must count the empties. */
  def rawTokens(text: Column): Column = filter(tokens(text), t => length(t) > 0)

  /** Strip punctuation then lowercase (map_reduce.cpp:160-167):
    * `don't`→`dont`, `end.`→`end`, `co-op`→`coop`; digits kept. */
  def cleanWord(tok: Column): Column = lower(regexp_replace(tok, IspunctClass, ""))

  /** The cleaned, non-empty tokens of `text`, in order: exactly
    * `filter(transform(tokens(text), cleanWord), length > 0)`, computed
    * by the one-pass byte kernel [[graft.functions.CleanTokens]] (see
    * [[graft.functions.CleanTokenizer]] for why it is exact). Use it
    * wherever that composed shape would go; `tools/consistency_check.py`
    * flags the composed shape under src/main. */
  def cleanTokens(text: Column): Column =
    GraftSqlShim.column(CleanTokens(GraftSqlShim.expression(text)))

  /** One row per cleaned, non-empty word (empty-token filter:
    * map_reduce.cpp:166): `explode` of [[cleanTokens]]. Each document
    * is tokenized and cleaned in one pass over its bytes; only a token
    * with a non-ASCII byte runs [[cleanWord]], on that token alone,
    * which is exact because no case mapping looks across a separator. */
  def words(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(cleanTokens(col(textCol))).as("word"))

  /** [[words]] keyed by document: one `(doc_id, word)` row per cleaned,
    * non-empty word, `doc_id` being `idCol`. */
  def docWords(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(cleanTokens(col(textCol))).as("word"))

  /** The flagship: global (word, count). Catalyst plans partial+final
    * HashAggregate around one Exchange — the map-side combine
    * (map_reduce.cpp:218-231) and MPI shuffle+merge (:286-438) for free.
    *
    * The kernel's tokens go straight into the partial aggregate. A
    * per-document combine in the kernel (a generator emitting one
    * `(word, n)` row per distinct word of a document, 2.19 M token rows
    * → 781 k rows on the 16 MB bench corpus, then `sum(n)`) measured no
    * faster end to end and was not kept (CHANGES.md has the figures). */
  def wordCount(docs: DataFrame): DataFrame =
    words(docs).groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Top-k frequent words → TakeOrderedAndProject (no global sort).
    * Tie-break on word for determinism. */
  def wordCountTopK(docs: DataFrame, k: Int): DataFrame =
    wordCount(docs).orderBy(desc("cnt"), asc("word")).limit(k)

  /** Distinct words = the group keys alone (SURVEY.md §2.3). */
  def distinctWords(docs: DataFrame): DataFrame =
    words(docs).distinct()

  /** Word-length histogram: a second agg shape over the same stream. */
  def wordLengthHist(docs: DataFrame): DataFrame =
    words(docs)
      .select(length(col("word")).as("len"))
      .groupBy("len").agg(count(lit(1)).as("cnt"))

  /** Reference-parity variant: the reference dispatches every input file
    * `LOOP_OVER_DIRECTORY = 8` times (map_reduce.cpp:36, 130), so its
    * published counts are 8× true frequency. Reproduced as a workload
    * multiplier (crossJoin with an 8-row range → BroadcastNestedLoop,
    * no extra scan), NOT as query semantics. */
  def wordCountX8(docs: DataFrame): DataFrame =
    words(docs)
      // pin the 8-row side as the broadcast build: left unhinted, the
      // planner was observed broadcasting the multi-million-row words
      // side instead (0.6s vs 395s at sf0.1)
      .crossJoin(broadcast(docs.sparkSession.range(8)))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** The reference's exact bin hash (map_reduce.cpp:214-217):
    * `hash = Σ_i (22 + 23·(c_i − 14)); bin = hash % 1024` — an affine
    * char sum. Final counts are hash-independent, so this exists only
    * for bit-level partition-assignment parity with reference output
    * files (SURVEY.md §2.2); the engine's own shuffles use Murmur3. */
  def refBinHash(word: Column, bins: Int = 1024): Column = {
    val chars = filter(split(word, ""), c => length(c) > 0)
    pmod(aggregate(chars, lit(0L),
      (acc, ch) => acc + lit(22L) + lit(23L) * (ascii(ch) - lit(14L))), lit(bins.toLong))
  }

  /** One-row corpus vocabulary profile off the wordcount relation —
    * the dataset-card numbers (token/type counts, type-token ratio,
    * hapax fraction, top-term share) that flag a broken scrape (TTR
    * collapse = boilerplate flood; hapax spike = OCR noise or
    * mojibake) before any expensive stage runs. One scan + one
    * bounded-state aggregate; ratios are single IEEE divisions of
    * exact integers, rounded(6). */
  def vocabStats(docs: DataFrame): DataFrame =
    wordCount(docs).agg(
      sum(col("cnt")).as("n_tokens"),
      count(lit(1)).as("n_types"),
      sum(when(col("cnt") === 1, lit(1L)).otherwise(lit(0L))).as("n_hapax"),
      max(col("cnt")).as("max_freq"))
      .select(col("n_tokens"), col("n_types"), col("n_hapax"), col("max_freq"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6).as("type_token_ratio"),
        round(col("n_hapax").cast("double") / col("n_types").cast("double"), 6).as("hapax_frac"),
        round(col("max_freq").cast("double") / col("n_tokens").cast("double"), 6).as("top_share"))

  /** Distinct words per reference bin — the word→output-file ownership
    * map a reference run would produce (with n processes, bin i goes to
    * process i mod n, map_reduce.cpp:306). */
  def refBinHistogram(docs: DataFrame, bins: Int = 1024): DataFrame =
    words(docs).distinct()
      .select(refBinHash(col("word"), bins).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_words"))

  /** Word burstiness: for every word above a corpus-frequency floor,
    * the variance-to-mean ratio of its per-document counts (among
    * documents that contain it). Church & Gale's observation: content
    * words are BURSTY (a doc that mentions "reactor" once mentions it
    * five times — VMR ≫ 1) while function words are Poisson-flat
    * (VMR ≈ 1 among containing docs). Corpus use: a high-VMR word is
    * topical (keyword candidate); a high-cf LOW-VMR word not on the
    * stopword list is template boilerplate leaking through cleaning.
    *
    * Exactness: df, cf and Σc² are exact longs from one (doc, word)
    * aggregate; mean, population variance and VMR are the fixed
    * three-op double sequence of the rollingAnomaly device, rounded
    * to 6. Scale: two key-local hash aggregates, output is the
    * vocabulary above the floor. */
  def wordBurstiness(docs: DataFrame, minCf: Int = 20,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docWords(docs, textCol, idCol)
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("cf"),
        sum(col("c") * col("c")).as("cf2"))
      .where(col("cf") >= minCf)
      .withColumn("mean_c", col("cf").cast("double") / col("df").cast("double"))
      .withColumn("vr",
        (col("cf2").cast("double") - col("cf").cast("double") * col("mean_c"))
          / col("df").cast("double"))
      .select(col("word"), col("df"), col("cf"),
        round(col("mean_c"), 6).as("mean_tf"),
        round(col("vr") / col("mean_c"), 6).as("vmr"))
}
