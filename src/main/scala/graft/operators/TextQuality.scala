package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.Lineage.TruncateOps

/** Text-analysis operators for training-data curation (SURVEY.md §2.11
  * [NS]): quality scoring, token counting, stopword-based language ID
  * and rolling-hash document fingerprinting. All single-pass, narrow
  * transforms (no shuffle at all except fingerprint's none) — they
  * scale linearly with the corpus and stay inside whole-stage codegen
  * except for the higher-order array folds.
  */
object TextQuality {

  /** Tokenizer-sizing coverage curve: for each candidate vocabulary
    * cutoff N, how much of the corpus's token OCCURRENCE mass the N
    * most frequent clean words cover (ties broken word-asc) — the
    * standard readout for sizing a tokenizer vocabulary or an
    * embedding table ("64k entries cover 99.2% of tokens; the rest is
    * subword/byte fallback"). Output: (vocab_size, covered, total,
    * covered_ppm) with covered_ppm = covered·10⁶ div total — the
    * scale-up runs in DECIMAL(38,0) so a 100 TB corpus's ~10¹³ token
    * occurrences cannot wrap a 64-bit multiply (the twin mirrors via
    * HUGEINT); the quotient is ≤ 10⁶ and lands back in a long. A
    * corpus with zero clean words yields an empty curve (the
    * word-relation omission contract).
    *
    * Scale shape: ONE corpus-scale word aggregate (vocab-sized
    * result); rank and cumulative mass run over the VOCAB relation
    * through the adaptive TotalOrder devices (range-partitioned
    * rank/prefix-sum above the cutover — a vocabulary is unbounded-
    * cardinality at 100 TB, so no global ORDER BY window), which pin
    * the relation internally exactly once per device; the grand total
    * is read off the LAST cumulative value, never a second corpus
    * pass; the cutoff join is a broadcast of |cutoffs| rows. */
  def vocabCoverageCurve(docs: DataFrame,
                         cutoffs: Seq[Long] = Seq(1000L, 4000L, 16000L, 64000L),
                         textCol: String = "text"): DataFrame = {
    require(cutoffs.nonEmpty && cutoffs.forall(_ > 0),
      s"vocabCoverageCurve needs positive cutoffs, got $cutoffs")
    val counts = TextOps.words(docs, textCol)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val ranked = TotalOrder.globalRankAuto(counts,
      Seq(desc("cnt"), asc("word")), rankCol = "rk")
    val cum = TotalOrder.prefixSumAuto(ranked.select(col("rk"), col("cnt")),
      Seq(col("rk")), Seq("cnt" -> "cum"))
    // total = the last cumulative value — no separate corpus-side agg
    val tot = cum.agg(max(col("cum")).as("total"))
    val cuts = explode(array(cutoffs.map(lit): _*)).as("vocab_size")
    cum.join(broadcast(counts.sparkSession.range(1).select(cuts)),
        col("rk") <= col("vocab_size"))
      .groupBy(col("vocab_size"))
      .agg(max(col("cum")).as("covered"))
      .crossJoin(broadcast(tot))
      .select(col("vocab_size"), col("covered"), col("total"),
        expr("CAST((CAST(covered AS DECIMAL(38,0)) * 1000000) div total AS BIGINT)")
          .as("covered_ppm"))
  }

  /** Unigram log-probability scoring — the perplexity-proxy quality
    * filter: each document scores the sum of ln p(word) under the
    * corpus's OWN unigram MLE distribution (count/total). Garbled or
    * out-of-register documents land far below the corpus mean, which
    * is the cheap stand-in for LM-perplexity filtering at corpus scale
    * (one vocabulary aggregate + one word join — no model, no
    * inference pass).
    *
    * Scale shape: the vocabulary relation shuffles on the word key
    * (zipfian hot words are AQE's skew-join case, the SkewJoinSpec
    * posture); per-document accumulation is a plain hash aggregate.
    * Cross-engine exactness is engineered the PageRank way: each
    * token's ln(count/total) is ONE double op with identical operand
    * association on both engines, rounded to 12 dp and summed as
    * DECIMAL — accumulation order can never wiggle the hash.
    * Documents with zero clean words are absent from the output — the
    * engine-wide word-relation contract (truncateToTokenBudget /
    * dsirScore posture); the twin mirrors the omission. */
  def unigramLogProb(docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    // Type-level scoring (optimization r17): every occurrence of the
    // same word contributes the IDENTICAL rounded ln(cnt/total), so the
    // model probe runs once per (doc, word) — the per-doc TYPE relation
    // — with the occurrence count re-attached as an exact integer
    // multiplier on the DECIMAL term. One tokenize pass (the old shape
    // scanned the exploded stream twice: counts + probe) and the word-
    // keyed join shrinks from corpus token occurrences to per-doc
    // vocabulary size. sum(l·occ) == old sum-over-occurrences exactly —
    // PROVIDED the multiplier rides as DECIMAL(9,0): against a BIGINT,
    // Spark's precision-loss rule turns DECIMAL(28,12)×DECIMAL(20,0)
    // into DECIMAL(38,6) and silently rounds the term (caught by the
    // oracle at 1 ulp). 28+9+1 = 38 keeps scale 12 exact; occ is a
    // per-doc occurrence count, far below 10^9 for any row-sized doc.
    val dw = TextOps.docWords(graft.plans.FanOut.fanOutIfNarrow(docs, col(idCol)), textCol, idCol)
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("occ"))
      .truncateLineage // three consumers: vocab counts, total, probe join
    val counts = dw.groupBy(col("word")).agg(sum(col("occ")).as("cnt"))
    val total = dw.agg(sum(col("occ")).cast(DoubleType).as("total"))
    val scored = counts.crossJoin(broadcast(total))
      .select(col("word"),
        round(log(col("cnt").cast(DoubleType) / col("total")), 12)
          .cast(DecimalType(28, 12)).as("l"))
    dw.join(scored, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_tokens"), sum(col("l") * col("occ").cast(DecimalType(9, 0))).as("sl"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sl").cast(DoubleType), 6).as("logprob"),
        round(col("sl").cast(DoubleType) / col("n_tokens"), 6).as("avg_logprob"))
  }

  /** Bigram LM quality scoring with stupid backoff (Brants et al.
    * 2007, public) — the next rung above [[unigramLogProb]] on the
    * perplexity-proxy ladder: each document scores the sum over
    * adjacent cleaned-word pairs of ln p(cur | prev), where
    *
    *   p(cur | prev) = bigram_cnt / unigram_cnt(prev)   if the bigram
    *                                                    survives the
    *                                                    min-count prune
    *                 = alpha * unigram_cnt(cur) / total otherwise
    *
    * The model is the corpus's OWN counts with singleton bigrams
    * pruned (`minBigramCount` = 2) — pruning is what makes backoff
    * real when scoring the training corpus against itself (unpruned,
    * every observed bigram trivially has count >= 1).
    *
    * Scale shape: one unigram aggregate + one bigram aggregate (both
    * vocab-sized, checkpointed once), then the corpus-scale bigram
    * stream probes them — zipfian hot `prev` keys are AQE's skew-join
    * case. Cross-engine exactness is the unigramLogProb device: each
    * pair's log is ONE double expression with identical operand
    * association on both engines (`ln(bc/pc)` / `ln((alpha*cc)/total)`),
    * rounded to 12 dp and summed as DECIMAL. Documents with fewer than
    * 2 cleaned words have no bigrams and drop out on both sides. */
  def bigramLogProb(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                    minBigramCount: Int = 2, alpha: Double = 0.4): DataFrame = {
    val ws = TextOps.cleanTokens(col(textCol))
    // tokenize + cleanWord ONCE (optimization r18, the collocations
    // device): unigram counts and the bigram type relation both
    // consume the cleaned arrays — unpinned, each re-ran the clean
    // pass from the single-task documents scan. Explode weight: the
    // bigram struct explode multiplies rows per source byte.
    val base = graft.plans.FanOut.fanOutIfNarrow(docs, col(idCol),
        graft.plans.FanOut.ExplodeBytesPerTask)
      .select(col(idCol).as("doc_id"), ws.as("ws"))
      .truncateLineage
    val uni = base.select(explode(col("ws")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .truncateLineage
    val total = uni.agg(sum(col("cnt")).cast(DoubleType).as("total"))
    // Type-level scoring (optimization r17, the unigramLogProb device):
    // one bigram pass aggregated to per-doc TYPE counts (the old shape
    // re-ran the explode for the model build and probed the model per
    // OCCURRENCE — three corpus-scale string-keyed join shuffles). The
    // corpus type counts derive from the same relation (sum of occ), the
    // model joins run on the vocab²-bounded type table, and the scored
    // term re-attaches by an exact integer multiplier: sum(l·occ) equals
    // the old per-occurrence DECIMAL sum exactly, and `tcnt >=
    // minBigramCount` is precisely the old pruned-model left-join hit.
    val dt = base.where(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("prev"),
          element_at(col("ws"), i + 1).as("cur")))).as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.cur").as("cur"))
      .groupBy(col("doc_id"), col("prev"), col("cur")).agg(count(lit(1)).as("occ"))
      .truncateLineage // two consumers: corpus type counts + probe join
    val types = dt.groupBy(col("prev"), col("cur")).agg(sum(col("occ")).as("tcnt"))
    val up = uni.select(col("word").as("prev"), col("cnt").as("pc"))
    val uc = uni.select(col("word").as("cur"), col("cnt").as("cc"))
    val scoredTypes = types
      .join(up, Seq("prev"))
      .join(uc, Seq("cur"))
      .crossJoin(broadcast(total))
      .select(col("prev"), col("cur"),
        round(when(col("tcnt") >= minBigramCount,
            log(col("tcnt").cast(DoubleType) / col("pc").cast(DoubleType)))
          .otherwise(log(lit(alpha) * col("cc").cast(DoubleType) / col("total"))), 12)
          .cast(DecimalType(28, 12)).as("l"))
    dt.join(scoredTypes, Seq("prev", "cur"))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_bigrams"), sum(col("l") * col("occ").cast(DecimalType(9, 0))).as("sl"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sl").cast(DoubleType), 6).as("logprob"),
        round(col("sl").cast(DoubleType) / col("n_bigrams"), 6).as("avg_logprob"))
  }

  /** Trigram LM scoring with two-level stupid backoff — the top of the
    * n-gram ladder ([[unigramLogProb]] → [[bigramLogProb]] → this):
    * per adjacent word triple,
    *
    *   p = tri_cnt / bi_cnt(p2,p1)          trigram survives the prune
    *     = alpha * bi_cnt(p1,cur)/uni(p1)   else, bigram survives
    *     = alpha² * uni(cur)/total          else
    *
    * Numerator tables are min-count-pruned (>= 2) so both backoff
    * levels actually fire on self-scoring; DENOMINATORS are the true
    * unpruned counts (a conditional probability's context count is a
    * fact, not a model choice). alpha² is the literal product 0.4*0.4
    * folded identically by both engines' IEEE doubles. Same scale and
    * determinism posture as bigramLogProb: vocab-sized count relations
    * checkpointed once, the corpus-scale triple stream probes them,
    * each log is one identically-associated double expression rounded
    * to 12 dp and DECIMAL-summed. Docs with < 3 cleaned words drop. */
  def trigramLogProb(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                     minCount: Int = 2, alpha: Double = 0.4): DataFrame = {
    val ws = TextOps.cleanTokens(col(textCol))
    // tokenize + cleanWord ONCE (optimization r18, the collocations
    // device): THREE consumers (unigram counts, bigram counts, the
    // trigram type relation) each re-ran the clean pass from the
    // single-task documents scan when unpinned. Explode weight: the
    // trigram struct explode multiplies rows per source byte.
    val base = graft.plans.FanOut.fanOutIfNarrow(docs, col(idCol),
        graft.plans.FanOut.ExplodeBytesPerTask)
      .select(col(idCol).as("doc_id"), ws.as("ws"))
      .truncateLineage
    val uni = base.select(explode(col("ws")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .truncateLineage
    val total = uni.agg(sum(col("cnt")).cast(DoubleType).as("total"))
    def bigrams = base.where(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("b1"),
          element_at(col("ws"), i + 1).as("b2")))).as("b"))
      .select(col("b.b1").as("b1"), col("b.b2").as("b2"))
    val bi = bigrams.groupBy(col("b1"), col("b2")).agg(count(lit(1)).as("bc"))
      .truncateLineage
    // Type-level scoring (optimization r17, the bigramLogProb device):
    // one trigram pass → per-doc TYPE counts; the numerator prune and
    // all four model joins run on the type table (`tc0 >= minCount` ≡
    // the old pruned-triModel left-join hit), the scored term re-attaches
    // by exact integer multiplier. The old shape exploded trigrams twice
    // and dragged every occurrence through a 5-join string-keyed chain.
    val dt3 = base.where(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(transform(sequence(lit(2), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i - 1).as("p2"),
          element_at(col("ws"), i).as("p1"),
          element_at(col("ws"), i + 1).as("cur")))).as("g"))
      .select(col("doc_id"), col("g.p2").as("p2"), col("g.p1").as("p1"), col("g.cur").as("cur"))
      .groupBy(col("doc_id"), col("p2"), col("p1"), col("cur")).agg(count(lit(1)).as("occ"))
      .truncateLineage // two consumers: corpus type counts + probe join
    val types3 = dt3.groupBy(col("p2"), col("p1"), col("cur")).agg(sum(col("occ")).as("tc0"))
    val biModel = bi.where(col("bc") >= minCount)
      .select(col("b1").as("p1"), col("b2").as("cur"), col("bc").as("mbc"))
    val ctx = bi.select(col("b1").as("p2"), col("b2").as("p1"), col("bc").as("cbc"))
    val up = uni.select(col("word").as("p1"), col("cnt").as("pc"))
    val uc = uni.select(col("word").as("cur"), col("cnt").as("cc"))
    val scoredTypes = types3
      .join(biModel, Seq("p1", "cur"), "left")
      .join(ctx, Seq("p2", "p1"))
      .join(up, Seq("p1"))
      .join(uc, Seq("cur"))
      .crossJoin(broadcast(total))
      .select(col("p2"), col("p1"), col("cur"),
        round(when(col("tc0") >= minCount,
            log(col("tc0").cast(DoubleType) / col("cbc").cast(DoubleType)))
          .when(col("mbc").isNotNull,
            log(lit(alpha) * col("mbc").cast(DoubleType) / col("pc").cast(DoubleType)))
          .otherwise(log(lit(alpha) * lit(alpha) * col("cc").cast(DoubleType) / col("total"))), 12)
          .cast(DecimalType(28, 12)).as("l"))
    dt3.join(scoredTypes, Seq("p2", "p1", "cur"))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_trigrams"), sum(col("l") * col("occ").cast(DecimalType(9, 0))).as("sl"))
      .select(col("doc_id"), col("n_trigrams"),
        round(col("sl").cast(DoubleType), 6).as("logprob"),
        round(col("sl").cast(DoubleType) / col("n_trigrams"), 6).as("avg_logprob"))
  }

  /** Small multilingual stopword lists — plan-time constants. */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "es" -> Seq("el", "la", "los", "y", "en", "que", "un", "se"),
    "fr" -> Seq("le", "les", "et", "une", "est", "dans", "pour", "que"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和", "不"))

  private def stopHits(tokens: Column, lang: String): Column =
    size(filter(tokens, t => array_contains(array(Stopwords(lang).map(lit): _*), lower(t))))

  /** C4-class LINE-level cleaning rules (Raffel et al. 2020 §2.2,
    * public — the rules behind the C4 corpus): a line survives iff it
    *
    *  - ends in terminal punctuation (`.` `!` `?` or closing quote),
    *  - has at least `minWords` whitespace words,
    *  - does not contain `javascript` / `lorem ipsum` (case-insensitive)
    *    or a `{` (code and placeholder-page tells).
    *
    * Input is (idCol, posCol, lineCol) rows — [[Html.extractBlocks]]
    * output or any line-split corpus. Returns per document: `n_lines`,
    * `n_kept`, the reassembled `text` in original line order, and the
    * C4 page gate `page_kept` (at least `minKeptLines` surviving
    * lines — pages below it are navigation shells / stubs).
    *
    * Scale shape: the rules are a narrow per-row projection (regex +
    * split, all codegen'd); the only shuffle is the per-document
    * reassembly aggregate, whose state is bounded by one document's
    * own lines. */
  def c4LineFilter(lines: DataFrame, minWords: Int = 5, minKeptLines: Int = 3,
                   idCol: String = "doc_id", posCol: String = "pos",
                   lineCol: String = "line"): DataFrame = {
    val l = col(lineCol)
    val nWords = size(TextOps.rawTokens(l))
    val keep = l.rlike("[.!?\"]$") && nWords >= minWords &&
      !lower(l).contains("javascript") && !lower(l).contains("lorem ipsum") &&
      !l.contains("{")
    lines
      .select(col(idCol).as("doc_id"), col(posCol).as("pos"), l.as("line"), keep.as("keep"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("keep"), 1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("keep"), struct(col("pos"), col("line"))))),
          s => s.getField("line"))).as("text"))
      .withColumn("page_kept", col("n_kept") >= minKeptLines)
  }

  /** The FULL Gopher n-gram repetition gate (Rae et al. 2021 §A1.1,
    * public): for n in 2..4 the fraction of document characters
    * covered by the MOST-FREQUENT n-gram, for n in 5..10 the fraction
    * covered by ALL duplicated n-grams (count ≥ 2, every occurrence
    * counted — the standard open-source reading of the rule); a
    * document passes iff every fraction sits under its band.
    *
    * Character coverage is exact integer arithmetic: an n-gram joined
    * by single spaces carries `length(gram) − (n−1)` token characters,
    * coverage = occurrences × token-chars, and each fraction is ONE
    * IEEE division by the document's total token characters. The
    * most-frequent pick breaks ties deterministically by
    * (count, chars, gram) lexicographic max on both engines.
    *
    * Scale shape: all nine gram sizes explode in ONE pass (an array of
    * (n, gram) structs per document), one (doc, n, gram) aggregate,
    * one per-(doc, n) reduction, then a pivot back to columns — the
    * shuffle keys are gram-hash-sized, never the document. */
  def gopherRepetitionGate(docs: DataFrame, textCol: String = "text",
                           idCol: String = "doc_id",
                           topBands: Seq[(Int, Double)] = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16),
                           dupBands: Seq[(Int, Double)] = Seq(5 -> 0.15, 6 -> 0.14,
                             7 -> 0.13, 8 -> 0.12, 9 -> 0.11, 10 -> 0.10)): DataFrame = {
    val ns = (topBands ++ dupBands).map(_._1)
    val tk = TextOps.rawTokens(col(textCol))
    // two SMALL generators instead of one 9-transform concat: building
    // all nine gram arrays as one fused struct expression evaluated
    // the full 9-way when/transform/slice tree per document row —
    // 36s at sf0.1; exploding the gram SIZE first and building one
    // size's grams per (doc, n) row measures 4.1s isolated, same
    // output (slice/sequence take the size as a column)
    // fan out before the 9-size gram explode (optimization r18): the
    // gram generation below runs ~9 explodes x every token position
    // per document in the scan task until the first aggregate —
    // single-threaded from the one-file documents scan otherwise
    val counts = graft.plans.FanOut.fanOutIfNarrow(docs, col(idCol),
        graft.plans.FanOut.ExplodeBytesPerTask)
      .select(col(idCol).as("doc_id"), tk.as("toks"))
      .where(size(col("toks")) >= 1)
      .select(col("doc_id"),
        aggregate(col("toks"), lit(0L), (acc, x) => acc + length(x)).as("total_chars"),
        col("toks"), explode(array(ns.map(lit): _*)).as("n"))
      .where(size(col("toks")) >= col("n"))
      .select(col("doc_id"), col("total_chars"), col("n"),
        explode(transform(sequence(lit(0), size(col("toks")) - col("n")),
          i => concat_ws(" ", slice(col("toks"), i + 1, col("n"))))).as("gram"))
      .groupBy(col("doc_id"), col("n"), col("gram"))
      .agg(first(col("total_chars")).as("total_chars"), count(lit(1)).as("c"))
      .withColumn("chars", length(col("gram")) - (col("n") - 1))
    val perN = counts.groupBy(col("doc_id"), col("n"))
      .agg(first(col("total_chars")).as("total_chars"),
        max(struct(col("c"), col("chars"), col("gram"))).as("top"),
        sum(when(col("c") >= 2, col("c") * col("chars"))).as("dup_chars"))
      .select(col("doc_id"), col("n"),
        ((col("top.c") * col("top.chars")).cast(DoubleType) / col("total_chars")).as("top_frac"),
        (coalesce(col("dup_chars"), lit(0L)).cast(DoubleType) / col("total_chars")).as("dup_frac"))
    val aggCols = topBands.map { case (n, _) =>
      coalesce(max(when(col("n") === n, col("top_frac"))), lit(0.0)).as(s"top_${n}_frac")
    } ++ dupBands.map { case (n, _) =>
      coalesce(max(when(col("n") === n, col("dup_frac"))), lit(0.0)).as(s"dup_${n}_frac")
    }
    val wide = perN.groupBy(col("doc_id")).agg(aggCols.head, aggCols.tail: _*)
    val keep = topBands.map { case (n, t) => col(s"top_${n}_frac") <= t }
      .++(dupBands.map { case (n, t) => col(s"dup_${n}_frac") <= t })
      .reduce(_ && _)
    wide.withColumn("keep", keep)
  }

  /** Token-distribution DRIFT between two corpus slices — the
    * data-quality monitor that catches a source going stale or a
    * scraper change shifting the language: per-term contributions to
    * KL(new ‖ old) under add-1 smoothing over the union vocabulary,
    *
    *   drift(w) = p_new(w) · ln(p_new(w) / p_old(w)),
    *   p_side(w) = (c_side(w)+1) / (T_side + V),
    *
    * returned as the top-`topK` positive movers (terms newly
    * over-represented), count columns alongside. One word-keyed
    * aggregate with two conditional counts + a broadcast scalar row —
    * the vocab relation is the only shuffle. Determinism: each term's
    * drift is one identically-associated double expression rounded to
    * 12 dp; ordering carries the word tie-break. */
  def tokenDistributionDrift(docs: DataFrame, splitCol: String = "is_new",
                             textCol: String = "text", topK: Int = 50): DataFrame = {
    val ws = TextOps.cleanTokens(col(textCol))
    val toks = docs.select(col(splitCol).as("is_new"), explode(ws).as("word"))
    val m = toks.groupBy(col("word")).agg(
      count(when(!col("is_new"), 1)).as("c_old"),
      count(when(col("is_new"), 1)).as("c_new"))
    driftFromCounts(m, topK)
  }

  /** The KL-contribution math over an ALREADY-built (word, c_old,
    * c_new) count relation — split out so the streaming drift monitor
    * can maintain just the per-word counters in its state store and
    * run this on the finished vocabulary-sized relation, sharing the
    * batch twin's oracle unchanged. */
  def driftFromCounts(m: DataFrame, topK: Int = 50): DataFrame = {
    val scal = m.agg((sum(col("c_old")) + count(lit(1))).as("d_old"),
      (sum(col("c_new")) + count(lit(1))).as("d_new"))
    val pn = (col("c_new") + lit(1L)).cast(DoubleType) / col("d_new")
    val po = (col("c_old") + lit(1L)).cast(DoubleType) / col("d_old")
    m.crossJoin(broadcast(scal))
      .select(col("word"), col("c_old"), col("c_new"),
        round(pn * log(pn / po), 12).as("drift"))
      .orderBy(col("drift").desc, col("word")).limit(topK)
  }

  /** Gopher-class DOCUMENT-level quality gate (Rae et al. 2021 §A1.1,
    * public — the word-level subset of the Gopher rules; the
    * repetition subset lives in [[repetitionStats]] and the line
    * subset in [[c4LineFilter]]): a document passes iff its word
    * count, mean word length, alphabetic-word fraction, and stop-word
    * hits all sit inside the configured bands. Returns the feature
    * columns plus the conjunction `keep`.
    *
    * One narrow projection, no shuffle, no UDF. Determinism: every
    * ratio is a single IEEE division of exact integer counts (the
    * qualityFeatures posture), so thresshold comparisons agree
    * cross-engine. */
  def gopherQualityGate(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                        minWords: Int = 50, maxWords: Int = 100000,
                        minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                        minAlphaFrac: Double = 0.8, minStopHits: Int = 2): DataFrame = {
    val tk = TextOps.rawTokens(col(textCol))
    val n = size(tk)
    val meanLen = aggregate(tk, lit(0L), (acc, x) => acc + length(x))
      .cast(DoubleType) / n
    val alphaFrac = size(filter(tk, t => t.rlike("[A-Za-z]"))).cast(DoubleType) / n
    val stops = stopHits(tk, "en")
    docs.select(col(idCol).as("doc_id"),
        n.cast(LongType).as("n_words"),
        meanLen.as("mean_word_len"),
        alphaFrac.as("alpha_frac"),
        stops.cast(LongType).as("n_stop_hits"))
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len") >= minMeanLen && col("mean_word_len") <= maxMeanLen &&
          col("alpha_frac") >= minAlphaFrac &&
          col("n_stop_hits") >= minStopHits)
  }

  /** Wilson score lower bound (Wilson, JASA 1927 — the small-sample-
    * honest ranking statistic): rank sources by the LOWER 95%
    * confidence bound of their [[gopherQualityGate]] pass rate
    * instead of the raw proportion — a 3/3 source must not outrank a
    * 180/200 one just because its tiny sample hit 100%. The
    * z-derived constants (z=1.96, z²=3.8416, z²/2=1.9208,
    * z²/4=0.9604) are literal in BOTH engines and the bound is ONE
    * fixed float expression over the exact (n, k) integers — div,
    * mult and sqrt are IEEE correctly-rounded, so the same shape on
    * the same inputs yields the same doubles — rounded(9) before the
    * rank. Scale shape: one gate scan + a source-cardinality
    * aggregate; the rank window runs on the source dimension. */
  def sourceQualityWilson(docs: DataFrame, sourceCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gate = gopherQualityGate(docs).select(col("doc_id"), col("keep"))
    val per = docs.select(col("doc_id"), col(sourceCol).as("source"))
      .join(gate, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), lit(1L)).otherwise(lit(0L))).as("n_pass"))
    val nd = col("n_docs").cast(DoubleType)
    val p = col("n_pass").cast(DoubleType) / nd
    val wl = (p + lit(1.9208) / nd
      - lit(1.96) * sqrt((p * (lit(1.0) - p) + lit(0.9604) / nd) / nd)) /
      (lit(1.0) + lit(3.8416) / nd)
    per.select(col("source"), col("n_docs"), col("n_pass"),
        round(p, 6).as("pass_rate"), round(wl, 9).as("wilson_lb"))
      .withColumn("quality_rank",
        row_number().over(Window.orderBy(desc("wilson_lb"), asc("source")))
          .cast(LongType))
  }

  /** LEARNED quality classifier: multinomial Naive Bayes with add-1
    * smoothing (Manning et al. IR ch.13, public — the same
    * linear-classifier family the GPT-3/LLaMA pipelines use for
    * "looks like the curated corpus" scoring). Input docs carry a
    * boolean `posCol` label and a `trainCol` split flag; the model is
    * word counts per class over the TRAIN docs, and every document
    * (train and apply) is scored with the log-likelihood ratio
    *
    *   llr = ln(n⁺/n⁻) + Σ_tokens [ ln((c⁺(w)+1)/(T⁺+V)) −
    *                                ln((c⁻(w)+1)/(T⁻+V)) ]
    *
    * (priors + smoothed per-token evidence; out-of-vocabulary words
    * contribute the smoothing floor on both sides). Returns
    * (doc_id, n_tokens, llr, pred_pos).
    *
    * Scale shape: training is ONE word×class aggregate (vocab-sized,
    * checkpointed); scoring streams the corpus tokens against the
    * broadcast-joined model — the unigramLogProb shape with a second
    * count column. Cross-engine exactness is the LM device: each
    * token's evidence is one identically-associated double expression
    * rounded to 12 dp and DECIMAL-summed; the prior joins the sum as
    * a 12-dp DECIMAL too. */
  def nbLogLikelihoodRatio(docs: DataFrame, textCol: String = "text",
                           idCol: String = "doc_id", posCol: String = "is_pos",
                           trainCol: String = "is_train"): DataFrame = {
    val ws = TextOps.cleanTokens(col(textCol))
    val base = docs.select(col(idCol).as("doc_id"), col(posCol).as("is_pos"),
      col(trainCol).as("is_train"), ws.as("ws"))
    val toks = base.select(col("doc_id"), col("is_pos"), col("is_train"),
      explode(col("ws")).as("word"))
    val model = toks.where(col("is_train"))
      .groupBy(col("word"))
      .agg(count(when(col("is_pos"), 1)).as("c1"),
        count(when(!col("is_pos"), 1)).as("c0"))
      .truncateLineage
    // T_c + V in one pass over the vocab relation
    val scal = model.agg((sum(col("c1")) + count(lit(1))).as("d1"),
      (sum(col("c0")) + count(lit(1))).as("d0"))
    val pri = base.where(col("is_train")).agg(
      round(log(count(when(col("is_pos"), 1)).cast(DoubleType) /
        count(when(!col("is_pos"), 1))), 12)
        .cast(DecimalType(28, 12)).as("prior"))
    toks
      .join(model, Seq("word"), "left")
      .crossJoin(broadcast(scal))
      .crossJoin(broadcast(pri))
      .select(col("doc_id"), col("prior"),
        round(log((coalesce(col("c1"), lit(0L)) + lit(1L)).cast(DoubleType) / col("d1")) -
              log((coalesce(col("c0"), lit(0L)) + lit(1L)).cast(DoubleType) / col("d0")), 12)
          .cast(DecimalType(28, 12)).as("l"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), (sum(col("l")) + max(col("prior"))).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("s").cast(DoubleType), 6).as("llr"))
      .withColumn("pred_pos", col("llr") > 0)
  }

  /** Per-document quality features: token/char counts, mean token
    * length, punctuation / digit / stopword ratios. Ratios are plain
    * IEEE divisions of integer counts — deterministic. */
  def qualityFeatures(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val tk = TextOps.rawTokens(t)
    val nTok = size(tk)
    val punctStripped = regexp_replace(t, TextOps.IspunctClass, "")
    val digitStripped = regexp_replace(t, "[0-9]", "")
    docs.select(
      col(idCol).as("doc_id"),
      nTok.cast(LongType).as("n_tokens"),
      length(t).cast(LongType).as("n_chars"),
      (aggregate(tk, lit(0L), (acc, x) => acc + length(x)) / nTok).as("avg_token_len"),
      ((length(t) - length(punctStripped)) / length(t)).as("punct_ratio"),
      ((length(t) - length(digitStripped)) / length(t)).as("digit_ratio"),
      (stopHits(tk, "en") / nTok).as("stopword_ratio"))
  }

  /** Exact ROC AUC of a scorer — the eval every learned quality gate
    * owes before it filters a corpus. Mann-Whitney rank-sum form with
    * MIDRANK tie handling (the textbook estimator: AUC = (R⁺ −
    * n⁺(n⁺+1)/2) / (n⁺n⁻), R⁺ = sum of positive midranks), kept
    * all-integer until the final division: per distinct score the
    * doubled midrank sum contribution is c⁺·(2·below + c + 1) — so
    * AUC = (ΣC − n⁺(n⁺+1)) / (2·n⁺·n⁻) in exact DECIMAL counts, one
    * double division, rounded 6.
    *
    * Scale shape: one score-histogram aggregate, `below` via the
    * adaptive TotalOrder prefix sum (a continuous score's histogram
    * ≈ corpus size — never a single-task global window), one scalar
    * aggregate. The DuckDB twin keeps the naive window formulation, so
    * the hash match proves the decomposition. */
  def rankAuc(scored: DataFrame, scoreCol: String = "score",
              labelCol: String = "is_pos"): DataFrame = {
    def d19(c: Column): Column = c.cast(DecimalType(19, 0))
    val hist = scored.groupBy(col(scoreCol).as("s"))
      .agg(count(lit(1)).as("c"),
        sum(when(col(labelCol), lit(1L)).otherwise(lit(0L))).as("c_pos"))
    val pre = TotalOrder.prefixSumAuto(hist, Seq(col("s")), Seq(("c", "cum")))
      .withColumn("below", col("cum") - col("c"))
    pre
      .agg(sum(d19(col("c_pos")) * d19(col("below") * 2 + col("c") + 1)).as("tr"),
        sum(col("c_pos")).as("n_pos"),
        sum(col("c") - col("c_pos")).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        round((col("tr") - d19(col("n_pos")) * d19(col("n_pos") + 1)).cast(DoubleType)
          / (d19(col("n_pos")) * d19(col("n_neg")) * 2).cast(DoubleType), 6).as("auc"))
  }

  /** C4's document-level lexicon drop (the stage AFTER line rules: a
    * document containing ANY listed word is removed outright, no
    * scoring). Matching runs on CLEANED tokens (lower + punct strip —
    * the wordcount family's tokenizer), so "VIAGRA!" hits "viagra".
    * The lexicon is data, not algorithm — callers pass their own; a
    * narrow per-row array computation, no shuffle, no UDF. */
  def badWordFilter(docs: DataFrame, words: Seq[String],
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val ws = TextOps.cleanTokens(col(textCol))
    val nBad = size(filter(ws, w => array_contains(array(words.map(lit): _*), w)))
    docs.select(col(idCol).as("doc_id"), nBad.cast(LongType).as("n_bad"),
      (nBad === 0).as("kept"))
  }

  /** Feature vector column shared by the logistic-regression trainer
    * and its scorer: bias + the [[qualityFeatures]] ratios (exact IEEE
    * divisions of integer counts — bit-identical across engines) with
    * mean token length rescaled to O(1). */
  private def logregX(labeled: DataFrame, textCol: String): DataFrame =
    qualityFeatures(labeled, textCol)
      .join(labeled.select(col("doc_id"), col("is_pos"), col("is_train")), "doc_id")
      .select(col("doc_id"), col("is_pos"), col("is_train"),
        array(lit(1.0), col("stopword_ratio"), col("punct_ratio"),
          col("digit_ratio"), col("avg_token_len") / 10).as("x"))

  /** Feature names, index-aligned with [[logregX]]'s vector. */
  val LogregFeatures: Seq[String] =
    Seq("bias", "stopword_ratio", "punct_ratio", "digit_ratio", "avg_token_len_d10")

  /** Logistic-regression quality classifier TRAINED IN THE ENGINE —
    * `steps` full-batch gradient-ascent iterations of w ← w + lr·∇/n
    * over the train split, from w = 0. The discriminative sibling of
    * [[nbLogLikelihoodRatio]]: NB weighs words, this weighs the
    * document-shape feature ratios.
    *
    * Iterative-ML-on-Spark in its real shape: the driver holds the
    * d-sized coefficient vector (a BOUNDED d-element collect per step
    * — the Bpe/MMR driver-loop class, documented), each step is ONE
    * distributed aggregate over the feature relation (pinned once, so
    * the corpus scan never reruns per step).
    *
    * Cross-engine determinism discipline: the dot product and feature
    * ratios are plain IEEE mul/add on identical inputs (exact in both
    * engines); only exp() is libm-dependent, so each example's
    * gradient term x·(y−σ) is rounded 12 dp before the DECIMAL sum
    * (the NB evidence device — a last-ulp exp wobble moves the sum by
    * ≤1e-12/n) and each new weight is rounded 9 dp (re-synchronizing
    * the engines far above the 1e-17 perturbation floor). The DuckDB
    * twin unrolls the same steps as CTEs. */
  def logregTrainQuality(labeled: DataFrame, steps: Int = 3, lr: Double = 0.5,
                         textCol: String = "text"): Seq[Double] = {
    val fx = logregX(labeled, textCol).where(col("is_train")).truncateLineage
    val dims = LogregFeatures.size
    val dec = DecimalType(28, 12)
    var w = Seq.fill(dims)(0.0)
    (1 to steps).foreach { _ =>
      val dot = w.zipWithIndex
        .map { case (wi, i) => lit(wi) * element_at(col("x"), i + 1) }
        .reduce(_ + _)
      val resid = when(col("is_pos"), lit(1.0)).otherwise(lit(0.0)) -
        lit(1.0) / (lit(1.0) + exp(-dot))
      val grads = (1 to dims).map(i =>
        sum(round(element_at(col("x"), i) * resid, 12).cast(dec)).as(s"g$i"))
      val row = fx.agg(count(lit(1)).as("n"), grads: _*).collect()(0)
      val n = row.getLong(0)
      w = w.zipWithIndex.map { case (wi, i) =>
        val g = row.getDecimal(i + 1).doubleValue
        BigDecimal(wi + lr * g / n)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    w
  }

  /** Held-out confusion counts + accuracy of the trained logreg (the
    * scoring dot product is mul/add only — bit-deterministic, so the
    * pred_pos threshold at 0 cannot flap across engines). */
  def logregHeldoutEval(labeled: DataFrame, w: Seq[Double],
                        textCol: String = "text"): DataFrame = {
    val fx = logregX(labeled, textCol).where(!col("is_train"))
    val dot = w.zipWithIndex
      .map { case (wi, i) => lit(wi) * element_at(col("x"), i + 1) }
      .reduce(_ + _)
    fx.select(col("is_pos"), (dot > 0).as("pred"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("is_pos") && col("pred"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("is_pos") && col("pred"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("is_pos") && !col("pred"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("is_pos") && !col("pred"), 1L).otherwise(0L)).as("tn"))
      .withColumn("accuracy", round((col("tp") + col("tn")).cast(DoubleType)
        / col("n_test").cast(DoubleType), 6))
  }

  /** Repetition signals (the Gopher/RefinedWeb-style boilerplate and
    * spam detectors): per document, the fraction of w-gram occurrences
    * that are duplicates and the share of the single most frequent
    * bigram. High values mean machine-generated or template text.
    *
    * Two shapes deliberately mixed: the duplicate-trigram fraction is a
    * NARROW array computation (`array_distinct` inside the row — no
    * shuffle, whole-stage codegen above it), while the top-bigram share
    * explodes and re-aggregates (two key-local shuffles on (doc_id,
    * gram)) because a per-row mode over an unbounded gram vocabulary is
    * not an array-fold at 100 TB document sizes. */
  def repetitionStats(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tk = TextOps.rawTokens(col(textCol))
    def grams(w: Int) = expr(
      s"transform(sequence(0, size(toks) - $w), i -> concat_ws(' ', slice(toks, i + 1, $w)))")
    val narrow = docs
      .select(col(idCol).as("doc_id"), tk.as("toks"))
      .where(size(col("toks")) >= 1)
      .select(col("doc_id"), size(col("toks")).cast(LongType).as("n_tokens"),
        when(size(col("toks")) >= 3, grams(3)).otherwise(array().cast("array<string>")).as("tg"),
        when(size(col("toks")) >= 2, grams(2)).otherwise(array().cast("array<string>")).as("bg"))
      .select(col("doc_id"), col("n_tokens"),
        when(size(col("tg")) > 0,
          lit(1.0) - size(array_distinct(col("tg"))).cast(LongType) / size(col("tg")).cast(LongType))
          .otherwise(lit(0.0)).as("dup_trigram_frac"),
        col("bg"))
    val topBigram = narrow
      .select(col("doc_id"), explode(col("bg")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg((max(col("c")) / sum(col("c"))).as("top_bigram_frac"))
    narrow.drop("bg")
      .join(topBigram, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("dup_trigram_frac"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))
  }

  /** Token counting three ways: whitespace, a BPE-ish regex pre-token
    * split ([A-Za-z]+ | digit runs | single other chars), and the
    * chars/4 LLM heuristic. */
  def tokenCounts(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol).as("doc_id"),
      size(TextOps.rawTokens(t)).cast(LongType).as("ws_tokens"),
      size(regexp_extract_all(t, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast(LongType).as("bpe_ish_tokens"),
      ceil(length(t) / lit(4.0)).cast(LongType).as("approx_llm_tokens"))
  }

  /** Stopword-vote language ID with a fixed priority order on ties
    * (en > de > es > fr > zh) — a deterministic n-gram-free heuristic;
    * emits the per-language scores so downstream filters can threshold
    * confidence. */
  def langId(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tk = TextOps.rawTokens(col(textCol))
    val langs = Seq("en", "de", "es", "fr", "zh")
    val scored = docs.select(
      col(idCol).as("doc_id") +: langs.map(l => stopHits(tk, l).cast(LongType).as(s"s_$l")): _*)
    val s: String => Column = l => col(s"s_$l")
    val pred = when(s("en") >= s("de") && s("en") >= s("es") && s("en") >= s("fr") && s("en") >= s("zh"), "en")
      .when(s("de") >= s("es") && s("de") >= s("fr") && s("de") >= s("zh"), "de")
      .when(s("es") >= s("fr") && s("es") >= s("zh"), "es")
      .when(s("fr") >= s("zh"), "fr")
      .otherwise("zh")
    scored.select(col("doc_id"), pred.as("pred_lang"),
      col("s_en"), col("s_de"), col("s_es"), col("s_fr"), col("s_zh"))
  }

  /** Deterministic tie priority for [[langIdNgram]]: on equal scores
    * the EARLIER language wins. The order is a fixed, documented
    * policy (roughly descending web-corpus prevalence), shared with
    * the DuckDB twin's generated comparison chain. */
  val NgramLangs: Seq[String] =
    Seq("en", "de", "es", "fr", "it", "pt", "nl", "sv", "ru", "zh", "ja", "ko")

  /** Character-n-gram profiles for n-gram language ID — plan-time
    * constants (Cavnar & Trenkle 1994's rank-profile idea reduced to a
    * fixed characteristic-gram set per language; public). European
    * languages use trigrams with word-boundary grams (leading/trailing
    * space — they carry most of the signal); the whitespace-free CJK
    * scripts use character BIGRAMS (in scripts without spaces the
    * signal lives in character pairs, and a bigram already pins the
    * script). Scoring divides by each gram's OWN length, so mixed
    * gram sizes count occurrences correctly. */
  val NgramProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq(" th", "the", "he ", " an", "and", "ing", " of", "of ", "ion", " is"),
    "de" -> Seq("der", "ein", "sch", "die", "und", "ich", "cht", " ge", "ung", "ber"),
    "es" -> Seq(" de", "que", " la", "ión", "ado", " el", "el ", "los", " se", "nte"),
    "fr" -> Seq(" le", "les", " et", "eur", "une", "ais", "our", " pa", "ont", "dan"),
    "it" -> Seq(" di", "che", " co", "zio", "gli", " pe", "to ", "la ", "re ", "ell"),
    "pt" -> Seq("ção", "ão ", "os ", "em ", " qu", "uma", "ara", " se", "nto", " da"),
    "nl" -> Seq("een", "het", "aar", "van", " va", "oor", "ijk", " ge", "sch", "den"),
    "sv" -> Seq("och", " oc", "att", " at", "det", "för", "ing", "en ", "är ", "som"),
    "ru" -> Seq(" пр", " на", " по", "ого", "его", "ени", "ать", "ния", "что", "ть "),
    "zh" -> Seq("我们", "一个", "没有", "这个", "什么", "他们", "时候", "可以", "自己", "知道"),
    "ja" -> Seq("して", "いる", "こと", "です", "ます", "した", "から", "それ", "ない", "もの"),
    "ko" -> Seq("하는", "니다", "있다", "것이", "에서", "하고", "했다", "이다", "되는", "그는"))

  /** N-gram language ID: per-language score = total occurrences of the
    * language's characteristic grams in the space-padded lowercased
    * text. Occurrence counting is pure string arithmetic —
    * `(len(t) − len(replace(t, g, ''))) / len(g)` per gram,
    * non-overlapping left-to-right exactly like DuckDB's replace — so
    * the twin computes identical integers; no tokenizer, no UDF, no
    * shuffle. Prediction is argmax via greatest() over (score,
    * priority, lang) structs — lexicographic struct comparison gives
    * max score with the fixed [[NgramLangs]] tie order (the when-chain
    * this replaces stopped reading at 4 languages) — and `und` when
    * every score is zero. */
  def langIdNgram(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val t = concat(lit(" "), lower(col(textCol)), lit(" "))
    def cnt(g: String): Column =
      ((length(t) - length(call_function("replace", t, lit(g), lit("")))) / g.length).cast(LongType)
    def score(l: String): Column = NgramProfiles(l).map(cnt).reduce(_ + _)
    val scored = docs.select(
      col(idCol).as("doc_id") +: NgramLangs.map(l => score(l).as(s"g_$l")): _*)
    val entries = NgramLangs.zipWithIndex.map { case (l, i) =>
      struct(col(s"g_$l").as("score"),
        lit(NgramLangs.length - i).as("prio"), lit(l).as("lang"))
    }
    val best = greatest(entries: _*)
    val anyHit = NgramLangs.map(l => col(s"g_$l")).reduce(_ + _) > 0
    scored.select(col("doc_id") +:
      when(anyHit, best.getField("lang")).otherwise("und").as("pred_lang") +:
      NgramLangs.map(l => col(s"g_$l")): _*)
  }

  /** Order-sensitive polynomial rolling hash (Rabin-Karp style) over
    * the cleaned word sequence: fp = fold(acc * P + xxhash64(word)),
    * wrapping 64-bit (needs spark.sql.ansi.enabled=false). Unlike the
    * content digest (Dedup.hashGroups) this is computable incrementally
    * and composable over chunks. */
  def fingerprint(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val fp = aggregate(TextOps.cleanTokens(col(textCol)), lit(0L),
      (acc, w) => acc * lit(1099511628211L) + xxhash64(w))
    docs.select(col(idCol).as("doc_id"), fp.as("fp"))
  }

  /** Oracle-twinnable variant of [[fingerprint]]: same rolling-hash
    * construction, but the per-word hash is the reference's affine
    * char sum (map_reduce.cpp:214-217 via TextOps.refBinHash's
    * formula) and the fold runs mod 1e9+7 so every intermediate stays
    * far inside 64 bits — xxhash64's wrap-around has no SQL twin, this
    * does (DuckDB list_reduce), so the fingerprint row graduates from
    * rows-only to hash-checked. Collision budget is ~n²/2·10⁹ per
    * corpus — fine for fingerprint comparison, not for dedup keys. */
  def fingerprintRef(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val cleaned = TextOps.cleanTokens(col(textCol))
    val wordHash = (w: Column) => coalesce(
      aggregate(filter(split(w, ""), c => length(c) > 0), lit(0L),
        (acc, ch) => acc + lit(22L) + lit(23L) * (ascii(ch) - lit(14L))), lit(0L))
    val fp = aggregate(cleaned, lit(0L),
      (acc, w) => pmod(acc * lit(31L) + wordHash(w), lit(1000000007L)))
    docs.select(col(idCol).as("doc_id"), fp.as("fp"))
  }

  /** Compression-ratio quality signal: deflated bytes / raw bytes per
    * document ([[graft.functions.DeflateSize]] — the RefinedWeb/
    * Dolma-class low-entropy gate; boilerplate and generator loops
    * compress far below prose with no tokenizer or model involved).
    * Narrow zero-shuffle projection; rows-only check by design (no
    * SQL engine exposes deflate), determinism + separation pinned by
    * spec. */
  def compressionRatio(docs: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame =
    docs.where(length(col(textCol)) > 0)
      .select(col(idCol).as("doc_id"),
        octet_length(col(textCol)).cast(LongType).as("n_bytes"),
        graft.functions.DeflateSize.deflateSize(col(textCol)).cast(LongType).as("n_deflate"))
      .withColumn("ratio",
        round(col("n_deflate").cast(DoubleType) / col("n_bytes").cast(DoubleType), 6))

  /** Sentence segmentation: split on terminal punctuation runs
    * ([.!?]+, kept attached to their sentence), trim, drop empties,
    * emit (doc_id, sent_idx, sentence, n_words) — the unit most
    * line/sentence-level curation rules (C4's terminal-punctuation
    * check, per-sentence dedup, citation-span scrubbing) actually
    * operate on. Extraction — not split — because RE2 has no
    * lookbehind: `[^.!?]+[.!?]*` matches each sentence WITH its
    * terminator, identically on both engines. Trailing text without
    * a terminator is a sentence (real scraped text ends mid-line
    * constantly; dropping it would silently lose content). Narrow
    * generator, no shuffle. */
  def sentences(docs: DataFrame, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    val pieces = regexp_extract_all(col(textCol), lit("[^.!?]+[.!?]*"), lit(0))
    val cleaned = filter(transform(pieces, p => trim(p)), p => length(p) > 0)
    docs.select(col(idCol).as("doc_id"), posexplode(cleaned).as(Seq("i", "sentence")))
      .select(col("doc_id"), (col("i") + 1).cast(LongType).as("sent_idx"), col("sentence"),
        size(TextOps.rawTokens(col("sentence")))
          .cast(LongType).as("n_words"))
  }

  /** Unicode-script character profile: per-document counts of Latin /
    * Cyrillic / CJK / digit / whitespace / other characters and a
    * dominant-script verdict — the cheap structural complement to
    * [[langIdNgram]] (script is decided by codepoint RANGES before
    * any language model runs: a "mostly-CJK" doc routed to a Latin
    * trigram profile is a pipeline bug this catches in one scan).
    * Counts are the replace-arithmetic device (length minus length
    * after deleting the class — identical integers cross-engine);
    * dominance is a fixed-order CASE over the three script counts
    * ('none' when all are zero), deterministic and mirrored. Narrow
    * zero-shuffle projection; 5 RE2-safe regex passes per row. */
  /** Mojibake é as it appears after a UTF-8 byte pair is misread as
    * Latin-1: U+00C3 U+00A9 ("Ã©"). */
  val MojiAccent = "\u00c3\u00a9"

  /** Mojibake left curly quote: UTF-8 E2 80 9C misread through
    * cp1252 as U+00E2 U+20AC U+0153 ("â€œ"). */
  val MojiQuote = "\u00e2\u20ac\u0153"

  /** The telltale pattern family: a Latin-1 lead byte Ã/Â followed by
    * a continuation-range codepoint, or the â€ curly-punctuation
    * prefix — the classic signatures of UTF-8 decoded as
    * Latin-1/cp1252 (the ftfy heuristic class, public). Plain
    * alternation + character classes: inside the Java∩RE2 subset. */
  val MojibakePattern = "[\u00c3\u00c2][\u0080-\u00bf]|\u00e2\u20ac"

  /** Mojibake screen: count [[MojibakePattern]] hits per document and
    * flag carriers — double-encoded text poisons tokenizers and
    * language ID silently, and one regex scan catches it before any
    * model runs. Detection only (repair needs a codec round-trip, a
    * per-feed decision); narrow zero-shuffle projection. */
  def mojibakeScreen(docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      regexp_count(col(textCol), lit(MojibakePattern)).cast(LongType).as("n_moji"))
      .withColumn("is_moji", col("n_moji") > 0)

  def scriptProfile(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    def cnt(cls: String): Column =
      (length(col(textCol)) - length(regexp_replace(col(textCol), cls, ""))).cast(LongType)
    val latin = cnt("[A-Za-z]")
    val cyr = cnt("[\\x{0400}-\\x{04FF}]")
    val cjk = cnt("[\\x{4E00}-\\x{9FFF}]")
    val dig = cnt("[0-9]")
    val sp = cnt("[ \\t\\n\\f\\r]")
    docs.select(col(idCol).as("doc_id"),
        latin.as("n_latin"), cyr.as("n_cyrillic"), cjk.as("n_cjk"),
        dig.as("n_digit"), sp.as("n_space"),
        (length(col(textCol)).cast(LongType) - latin - cyr - cjk - dig - sp).as("n_other"))
      .withColumn("dominant",
        when(col("n_latin") + col("n_cyrillic") + col("n_cjk") === 0, lit("none"))
          .when(col("n_cjk") >= col("n_latin") && col("n_cjk") >= col("n_cyrillic"), lit("cjk"))
          .when(col("n_cyrillic") >= col("n_latin"), lit("cyrillic"))
          .otherwise(lit("latin")))
  }

  /** Within-document sentence dedup: keep each sentence's FIRST
    * occurrence, drop later repeats, reassemble the text in original
    * order — the Gopher/RefinedWeb cleaning move for chorus/footer
    * repetition INSIDE a page, which corpus-level paragraph dedup
    * (cross-doc df) deliberately ignores. Repetition stats DETECT
    * this; this operator actually cuts it.
    *
    * Scale shape: the sentence relation, one (doc, sentence) window
    * for first-occurrence, one per-doc reassembly aggregate whose
    * state is bounded by the doc's own sentences. */
  def sentenceDedupWithin(docs: DataFrame, textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = sentences(docs, textCol, idCol)
    val tot = s.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sents"))
    val kept = s
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"), col("sentence")).orderBy(col("sent_idx"))))
      .where(col("rn") === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(sent_idx, sentence))), x -> x.sentence)"))
          .as("clean_text"))
    tot.join(kept, "doc_id")
  }

  /** Per-language stopword coverage — the register/fluency gate keyed
    * to each document's OWN language list (an English list scores a
    * German page near 0 and mislabels it garbage — the bug this
    * per-lang dispatch avoids). Docs in languages without a list
    * report null coverage rather than a lie. */
  def stopwordCoverage(docs: DataFrame, textCol: String = "text",
                       langCol: String = "lang"): DataFrame = {
    val tk = TextOps.rawTokens(col(textCol))
    val langs = Stopwords.keys.toSeq.sorted
    val hits = langs.foldLeft(lit(null).cast(IntegerType): Column) { (acc, l) =>
      when(col(langCol) === l, stopHits(tk, l)).otherwise(acc)
    }
    docs
      .select(col(langCol).as("lang"), size(tk).cast(LongType).as("n_toks"),
        hits.cast(LongType).as("n_stop"))
      .where(col("n_toks") > 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_toks"), sum(col("n_stop")).as("n_stop"))
      .select(col("lang"), col("n_docs"), col("n_toks"), col("n_stop"),
        round(col("n_stop").cast("double") / col("n_toks").cast("double"), 6)
          .as("coverage"))
  }

  /** Top-k collocations by pointwise mutual information — the
    * statistically-bound word pairs ("hong kong", "prime minister")
    * that should be treated as units by downstream tokenization and
    * phrase search. PMI = ln(p(w1w2) / (p(w1)·p(w2))) over adjacent
    * cleaned-word pairs, with a minimum pair count (PMI without a
    * count floor surfaces one-off typo pairs — the classic failure).
    *
    * Scale shape: two vocabulary-sized aggregates (unigram + bigram
    * counts) and two joins of the bigram relation against the
    * broadcast-sized totals; the top-k is TakeOrderedAndProject on
    * the pruned bigram relation, no global sort. Determinism: each
    * probability is one IEEE division, pmi one mul + one div + one
    * ln, identically associated on both engines, rounded to 6; the
    * (pmi desc, w1, w2) order is total. */
  def collocations(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                   minCount: Int = 5, k: Int = 100): DataFrame = {
    val ws = TextOps.cleanTokens(col(textCol))
    // tokenize + cleanWord ONCE (optimization r18): the unigram and
    // bigram aggregates both consume the cleaned arrays, and unpinned
    // each re-ran the regex-heavy clean pass from the single-task
    // documents scan. The gated fan-out parallelizes that one pass;
    // the pin is the "write tokenized docs before counting" stage of
    // any real n-gram pipeline.
    val base = graft.plans.FanOut.fanOutIfNarrow(docs, col(idCol))
      .select(col(idCol).as("doc_id"), ws.as("ws"))
      .truncateLineage
    val uni = base.select(explode(col("ws")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .truncateLineage
    val totU = uni.agg(sum(col("cnt")).as("t"))
    val bg = base.where(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("w1"),
          element_at(col("ws"), i + 1).as("w2")))).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
      .truncateLineage
    val totB = bg.agg(sum(col("c12")).as("bt"))
    bg.where(col("c12") >= minCount)
      .join(uni.select(col("word").as("w1"), col("cnt").as("c1")), "w1")
      .join(uni.select(col("word").as("w2"), col("cnt").as("c2")), "w2")
      .crossJoin(broadcast(totU)).crossJoin(broadcast(totB))
      .withColumn("p12", col("c12").cast(DoubleType) / col("bt").cast(DoubleType))
      .withColumn("p1", col("c1").cast(DoubleType) / col("t").cast(DoubleType))
      .withColumn("p2", col("c2").cast(DoubleType) / col("t").cast(DoubleType))
      .select(col("w1"), col("w2"), col("c12"),
        round(log(col("p12") / (col("p1") * col("p2"))), 6).as("pmi"))
      .orderBy(desc("pmi"), col("w1"), col("w2"))
      .limit(k)
  }

  /** Readability scoring: Flesch reading ease + Flesch-Kincaid grade
    * (public formulas, Kincaid et al. 1975) with the standard cheap
    * syllable estimator — each maximal `[aeiouy]+` vowel group counts
    * one syllable. Low-ease / high-grade documents are run-on or
    * jargon-dense; extreme values in either direction flag broken
    * extraction (no sentence breaks at all, or character soup).
    *
    * Scale shape: three regexp counters per row, zero shuffle, whole
    * row stays in whole-stage codegen. Cross-engine: the three counts
    * are exact integers; each ratio is one IEEE division and the two
    * formulas evaluate left-associated identically on both engines,
    * rounded to 4 dp at the end (the established float device). The
    * regexes live in the Java∩RE2 intersection. */
  def readability(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val nS = greatest(regexp_count(t, lit("[.!?]+")), lit(1)).cast(LongType)
    val nW = greatest(size(TextOps.rawTokens(t)), lit(1)).cast(LongType)
    val nSy = greatest(regexp_count(lower(t), lit("[aeiouy]+")), lit(1)).cast(LongType)
    docs.select(col(idCol).as("doc_id"),
        nS.as("n_sents"), nW.as("n_words"), nSy.as("n_syll"))
      .withColumn("wps", col("n_words").cast("double") / col("n_sents").cast("double"))
      .withColumn("spw", col("n_syll").cast("double") / col("n_words").cast("double"))
      .select(col("doc_id"), col("n_sents"), col("n_words"), col("n_syll"),
        round(lit(206.835) - lit(1.015) * col("wps") - lit(84.6) * col("spw"), 4)
          .as("flesch_ease"),
        round(lit(0.39) * col("wps") + lit(11.8) * col("spw") - lit(15.59), 4)
          .as("fk_grade"))
  }

  /** Lexical diversity: per document, type-token ratio and hapax
    * share over the CLEANED word stream (the wordcount family's
    * tokens — case/punct variants collapse to one type). Template
    * spam and keyword-stuffed pages sit at the extremes: near-0 TTR
    * (one phrase looped) or near-1 hapax share on long docs (word
    * salad). Complements repetitionStats, which sees ADJACENT
    * repetition; TTR sees global vocabulary collapse no n-gram
    * window catches.
    *
    * Scale shape: one explode + one (doc_id, word) hash aggregate +
    * one doc_id aggregate — both shuffles are key-local and the
    * per-doc state is its vocabulary, never its token list. */
  def lexicalDiversity(docs: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    TextOps.docWords(docs, textCol, idCol)
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("n") === 1, lit(1L)).otherwise(lit(0L))).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6).as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types").cast("double"), 6).as("hapax_ratio"))
  }

  /** Code keywords for [[codeDetect]] — high-precision tokens that
    * almost never open a prose sentence but saturate source files.
    * Kept deliberately short: breadth adds recall slowly and false
    * positives fast ("return" already appears in prose; "for"/"if"
    * would swamp). */
  val CodeKeywordRe: String =
    "\\b(def|class|import|return|function|var|const|void|public|static|struct|elif|lambda|printf|endif)\\b"

  /** Code-vs-prose detection — the corpus-routing heuristic (source
    * code wants different cleaning, dedup and packing than prose; a
    * code-heavy shard poisons an LM quality gate tuned on text). Four
    * orthogonal surface signals, no parser: structural-symbol density
    * `{}()[];=<>`, indented-line share, semicolon-terminated-line
    * share, and reserved-word density. The score is a fixed linear
    * blend; `is_code` cuts at 0.12 — symbols alone put real code far
    * above it (C ~0.15-0.25 on symbol density alone) while clean
    * prose sits under 0.03.
    *
    * Scale shape: regexp counters + one multiline regexp per row —
    * narrow, codegen'd, shuffle-free. `(?m)^` anchors per line in
    * both Java and RE2, so the line-share signals never materialize
    * a split array. */
  def codeDetect(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val nChars = greatest(length(t), lit(1)).cast(LongType)
    val nLines = (regexp_count(t, lit("\n")) + lit(1)).cast(LongType)
    val nW = greatest(size(TextOps.rawTokens(t)), lit(1)).cast(LongType)
    val sym = regexp_count(t, lit("[{}()\\[\\];=<>]")).cast(LongType)
    val indented = regexp_count(t, lit("(?m)^(  |\t)")).cast(LongType)
    val semiEol = regexp_count(t, lit("(?m);[ \t]*$")).cast(LongType)
    val kw = regexp_count(lower(t), lit(CodeKeywordRe)).cast(LongType)
    docs.select(col(idCol).as("doc_id"),
        (sym.cast("double") / nChars.cast("double")).as("sym_r"),
        (indented.cast("double") / nLines.cast("double")).as("indent_r"),
        (semiEol.cast("double") / nLines.cast("double")).as("semi_r"),
        (kw.cast("double") / nW.cast("double")).as("kw_r"))
      .select(col("doc_id"),
        round(col("sym_r"), 6).as("sym_ratio"),
        round(col("indent_r"), 6).as("indent_ratio"),
        round(col("semi_r"), 6).as("semi_ratio"),
        round(col("kw_r"), 6).as("kw_ratio"),
        round(lit(2.0) * col("sym_r") + lit(0.5) * col("indent_r")
          + lit(1.0) * col("semi_r") + lit(1.5) * col("kw_r"), 6).as("code_score"))
      .withColumn("is_code", col("code_score") > lit(0.12))
  }
}
