package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.plans.Lineage.TruncateOps

/** Full-text retrieval over the corpus: inverted index construction and
  * BM25 ranking. No reference analog (the reference's single query is
  * word count, map_reduce.cpp:452-616), but the inverted index is the
  * canonical MapReduce workload one step past word count — same
  * scan → explode → shuffle-on-term shape, with postings instead of
  * counts — and BM25 is what a training-data pipeline runs to pull
  * topical slices out of a 100 TB corpus (targeted subset selection).
  *
  * Scale shape: everything shuffles on the term, never on the document
  * body. [[docTermFreqs]] is partial-aggregated map-side before the
  * exchange (one row per (term, doc) leaves each task, not one per
  * occurrence). BM25 scoring touches only the query terms' postings —
  * an `isin` filter that prunes before the shuffle — and the corpus
  * constants (N, avgdl) ride a broadcast, so the score join is
  * term-postings × tiny.
  *
  * Hot terms ("the") are real skew at 100 TB: a posting list is df
  * entries in ONE aggregation buffer, so an uncapped stop term is a
  * single-key state blowup. The cap is therefore ENFORCED, not advised:
  * every posting aggregation runs behind a df pre-filter (a cheap
  * count-only agg + semi-shaped join, the Dedup.cappedShingleIds
  * pattern) that drops terms with df > maxDf as stop terms BEFORE any
  * list state exists. The df agg itself carries counts, never lists —
  * its per-key state is constant-size no matter how hot the term.
  */
object Retrieval {

  /** Default document-frequency cap. At sf0.01 (500 docs) this is a
    * no-op; in production set ≈ 1e-4·|docs| (the Dedup.DefaultMaxDf
    * guidance) — terms in more documents than that are stop terms
    * carrying ~zero idf signal at df·(k1+1)/(df+k1·…) saturation.
    * The cap is always applied: there is no uncapped code path. */
  val DefaultMaxDf = 100000

  /** One row per (word, doc) with its term frequency — the posting
    * before grouping. Tokenization is the reference-exact pipeline
    * (TextOps.words) so index terms agree with the wordcount family. */
  def docTermFreqs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    // Optimization r18: the tokenize + clean explode runs inside
    // the SCAN task until the (word, doc) aggregate's exchange — one
    // task end-to-end on the single-file documents fixture — for every
    // retrieval consumer (bm25/tfidf/mmr/inverted-index families).
    // Same gated device and explode weight as the TextQuality n-gram
    // tokenize passes; wide scans skip it (the 100 TB arm).
    TextOps.docWords(graft.plans.FanOut.fanOutIfNarrow(docs, col(idCol),
        graft.plans.FanOut.ExplodeBytesPerTask), textCol, idCol)
      .groupBy(col("word"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** (word, doc, tf) restricted to terms with df <= maxDf. The df
    * pre-agg holds one counter per term (bounded state). The tf table
    * feeds BOTH join branches (the cap side and the postings side) —
    * localCheckpoint materializes the tokenize+agg once instead of
    * recomputing the corpus scan per branch (the Dedup.jaccardPairs
    * device; blocks are dropped by the ContextCleaner with the plan). */
  private def cappedTermFreqs(tf: DataFrame, maxDf: Int): DataFrame = {
    val tfM = tf.truncateLineage
    val keep = tfM.groupBy(col("word")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("word"))
    tfM.join(keep, Seq("word"))
  }

  /** The inverted index: term → document frequency, collection
    * frequency, and the sorted posting list, for terms with
    * df <= maxDf (hotter terms are stop terms and never reach the
    * posting aggregation — see the object doc; the per-term list
    * state is thereby bounded by maxDf). Postings render as a
    * comma-joined string for byte-stable comparison. */
  def invertedIndex(docs: DataFrame, maxDf: Int = DefaultMaxDf,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    cappedTermFreqs(docTermFreqs(docs, textCol, idCol), maxDf)
      .groupBy(col("word"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("cf"),
        concat_ws(",",
          transform(sort_array(collect_list(col("doc_id"))), _.cast("string"))).as("postings"))

  /** BM25 (Robertson/Spärck Jones; the +1 inside the log is the
    * Lucene/BM25+ variant that keeps IDF positive for df > N/2).
    * Returns the top-k documents for a bag of query terms. A query
    * term whose df exceeds maxDf is a stop term and contributes 0 —
    * the same cap the index build enforces, so this recompute path
    * and [[bm25FromIndex]] over a persisted index agree exactly.
    *
    * Determinism across engines: each term's contribution is computed
    * once per (term, doc) row, the per-document sum is a fixed
    * left-to-right fold over the terms in the order given (a pivot to
    * one column per term, then explicit `+` — never a float `sum()`
    * whose accumulation order the engine picks), and the final score
    * is rounded to 4 decimals with doc_id as tie-break. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75, maxDf: Int = DefaultMaxDf,
               textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tf = docTermFreqs(docs, textCol, idCol).where(col("word").isin(terms: _*))
    val dl = docs.select(
      col(idCol).as("doc_id"),
      size(TextOps.cleanTokens(col(textCol))).as("dl"))
    // corpus constants: exact integer sums, one double division — ride a broadcast
    val stats = dl.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
    scoreBm25(terms, k, k1, b, tf, df, dl, stats)
  }

  /** The shared scoring tail of both BM25 paths: tf restricted to the
    * query terms, df already capped, per-doc lengths, one-row corpus
    * stats. Kept private so the recompute and index-backed paths are
    * structurally identical (bit-equal floats). */
  private def scoreBm25(terms: Seq[String], k: Int, k1: Double, b: Double,
                        tf: DataFrame, df: DataFrame, dl: DataFrame,
                        stats: DataFrame): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    val contrib = tf
      .join(broadcast(df), Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(
        col("doc_id"), col("word"),
        (log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("w_score"))

    // fixed-order fold over the query terms (deterministic association)
    val perTerm = contrib.groupBy(col("doc_id"))
      .pivot(col("word"), terms)
      .agg(first(col("w_score")))
    val score = terms.map(t => coalesce(col(s"`$t`"), lit(0.0))).reduceLeft(_ + _)
    perTerm
      .select(col("doc_id"), round(score, 4).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** The persisted form of the inverted index — the build-once /
    * query-many lifecycle the ANN side already has (Similarity
    * .ivfPqWrite/Read): four relations instead of recomputing term
    * statistics from the corpus on every query.
    *  - postings (word, doc_id, tf): corpus-term-sized but capped —
    *    no term carries more than maxDf rows;
    *  - terms (word, df): the FULL vocabulary with true df — one
    *    constant-size counter per word, never a list, so carrying the
    *    over-cap tail costs nothing and makes appends exact: without
    *    it, "new word" and "capped stop term" are indistinguishable
    *    and a later append would resurrect a stop term with a tiny
    *    fake df. The cap (stored alongside) filters at posting-build
    *    and query time;
    *  - docLens (doc_id, dl): per-document token counts;
    *  - stats (n_docs, sum_dl, avgdl, max_df): one broadcastable row
    *    (sum_dl is the EXACT integer total so an append can recompute
    *    avgdl bit-identically to a full rebuild: integer sums merge,
    *    one final division).
    * A query touches only its terms' postings (predicate pushdown on
    * `word` at the parquet scan) plus the tiny side relations — the
    * corpus text is never re-read. */
  final case class InvIndex(postings: DataFrame, terms: DataFrame,
                            docLens: DataFrame, stats: DataFrame, maxDf: Int)

  /** (doc_id, dl) token lengths — the narrow per-document pass both
    * build and append run over their own docs. */
  private def docLengths(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      size(TextOps.cleanTokens(col(textCol))).as("dl"))

  private def statsOf(dl: DataFrame, maxDf: Int): DataFrame =
    dl.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).cast("long").as("sum_dl"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      lit(maxDf).as("max_df"))

  /** Build the index relations from a corpus (one pass for postings +
    * df, one narrow pass for document lengths). The maxDf cap is part
    * of the INDEX — queries against it inherit the same stop-term set,
    * which is what keeps [[bm25FromIndex]] hash-equal to [[bm25TopK]]
    * at the same cap. */
  def invIndexBuild(docs: DataFrame, maxDf: Int = DefaultMaxDf,
                    textCol: String = "text", idCol: String = "doc_id"): InvIndex = {
    // one tokenize+agg pass feeds both the term stats and the postings
    val tf = docTermFreqs(docs, textCol, idCol).truncateLineage
    val terms = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val postings = tf.join(terms.where(col("df") <= maxDf).select(col("word")), Seq("word"))
    val dl = docLengths(docs, textCol, idCol)
    InvIndex(postings, terms, dl, statsOf(dl, maxDf), maxDf)
  }

  /** Incremental index maintenance — fold a batch of NEW documents into
    * an existing index without re-reading the indexed corpus, exact to
    * a full rebuild over the union (RetrievalSpec proves equality).
    * The only corpus-sized input touched is the index's own relations:
    *  - df counters merge by addition (outer join of two counter
    *    tables — vocabulary-sized, constant state per key);
    *  - postings union, then re-filter against the MERGED df: a term
    *    the batch pushes over the cap has its existing postings
    *    retired (the rebuild would drop them too), a term the old
    *    corpus already capped stays retired because its true df only
    *    grew — both directions fall out of one semi-shaped join;
    *  - docLens union; stats re-derived from exact integer sums
    *    (old one-row stats + the batch's one-row agg), so avgdl is
    *    bit-identical to the rebuild's single division. */
  def invIndexAppend(index: InvIndex, newDocs: DataFrame,
                     textCol: String = "text", idCol: String = "doc_id"): InvIndex = {
    val newTf = docTermFreqs(newDocs, textCol, idCol).truncateLineage
    val newTerms = newTf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val terms = index.terms.select(col("word"), col("df").as("df_a"))
      .join(newTerms.select(col("word"), col("df").as("df_b")), Seq("word"), "full_outer")
      .select(col("word"),
        (coalesce(col("df_a"), lit(0L)) + coalesce(col("df_b"), lit(0L))).as("df"))
    val postings = index.postings.unionByName(newTf)
      .join(terms.where(col("df") <= index.maxDf).select(col("word")), Seq("word"))
    val newDl = docLengths(newDocs, textCol, idCol)
    val oldStats = index.stats.select(col("n_docs").as("n_a"), col("sum_dl").as("s_a"))
    val stats = newDl.agg(count(lit(1)).as("n_b"), sum(col("dl")).cast("long").as("s_b"))
      .crossJoin(oldStats)
      .select(
        (col("n_a") + col("n_b")).as("n_docs"),
        (col("s_a") + coalesce(col("s_b"), lit(0L))).as("sum_dl"),
        ((col("s_a") + coalesce(col("s_b"), lit(0L))).cast("double") /
          (col("n_a") + col("n_b"))).as("avgdl"),
        lit(index.maxDf).as("max_df"))
    InvIndex(postings, terms, index.docLens.unionByName(newDl), stats, index.maxDf)
  }

  /** Persist the index as four parquet relations under `dir` (the cap
    * rides the one-row stats relation). */
  def invIndexWrite(index: InvIndex, dir: String): Unit = {
    index.postings.write.mode("overwrite").parquet(s"$dir/postings")
    index.terms.write.mode("overwrite").parquet(s"$dir/terms")
    index.docLens.write.mode("overwrite").parquet(s"$dir/doc_lens")
    index.stats.write.mode("overwrite").parquet(s"$dir/stats")
  }

  def invIndexRead(spark: SparkSession, dir: String): InvIndex = {
    val stats = spark.read.parquet(s"$dir/stats")
    // one-row driver read to recover the index's cap — the same class
    // of driver touch as reading a manifest's file list
    val maxDf = stats.select(col("max_df")).head().getInt(0)
    InvIndex(spark.read.parquet(s"$dir/postings"), spark.read.parquet(s"$dir/terms"),
      spark.read.parquet(s"$dir/doc_lens"), stats, maxDf)
  }

  /** BM25 from a (possibly reloaded) index: the amortized half of the
    * lifecycle. Same scoring tail as [[bm25TopK]] — only the inputs
    * differ (stored relations instead of a corpus recompute), so the
    * two paths return identical rows at the same cap. */
  def bm25FromIndex(index: InvIndex, terms: Seq[String], k: Int,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tf = index.postings.where(col("word").isin(terms: _*))
    val df = index.terms.where(col("word").isin(terms: _*) && col("df") <= index.maxDf)
    scoreBm25(terms, k, k1, b, tf, df, index.docLens, index.stats)
  }

  /** Positional postings for a set of terms: (doc_id, word, ps) with
    * ps the SORTED 1-based positions of `word` in the document's
    * cleaned token sequence (TextOps tokenize → clean → drop empties,
    * the same stream the wordcount/BM25 families index — positions
    * count surviving tokens, so adjacency is adjacency in the indexed
    * text). The `terms` filter prunes at the scan: only the queried
    * terms' occurrences ever reach the shuffle. Per-(doc, word) list
    * state is the within-document tf — bounded by document length,
    * never by corpus-wide df, so no cap is needed where the inverted
    * index needs one. */
  def positionalPostings(docs: DataFrame, terms: Seq[String],
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val cleaned = TextOps.cleanTokens(col(textCol))
    docs
      .select(col(idCol).as("doc_id"), posexplode(cleaned).as(Seq("pos0", "word")))
      .where(col("word").isin(terms.distinct: _*))
      .select(col("doc_id"), col("word"), (col("pos0") + 1).as("pos"))
      .groupBy(col("doc_id"), col("word"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
  }

  /** Exact phrase search: documents containing the words of `phrase`
    * at consecutive token positions, with the occurrence count — the
    * positional-index query BM25's bag-of-words scoring cannot answer
    * ("training data" the phrase, not documents mentioning training
    * and data). Standard positional-intersection evaluation
    * (Manning/Raghavan/Schütze, IIR §2.4, public): start positions p
    * of the first term survive iff term i sits at p+i for every i.
    *
    * Scale shape: ONE corpus scan with the term filter pushed to it,
    * a shuffle of only the phrase terms' occurrences, then an m-way
    * doc-keyed join of per-doc position lists (each side ≤ one row
    * per doc) and a codegen'd array-intersection — no all-pairs
    * anything, no corpus-wide position materialization.
    * Output: (doc_id, n_matches > 0). */
  def phraseSearch(docs: DataFrame, phrase: Seq[String],
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs a non-empty phrase")
    val m = phrase.length
    // the postings relation is docs × phrase-terms — tiny; materialize
    // once, every per-term branch below reads it instead of re-running
    // the corpus scan
    val lists = positionalPostings(docs, phrase, textCol, idCol).truncateLineage
    val joined = phrase.zipWithIndex.map { case (t, i) =>
      lists.where(col("word") === t).select(col("doc_id"), col("ps").as(s"p$i"))
    }.reduce((a, b) => a.join(b, "doc_id"))
    val matches = size(filter(col("p0"), p =>
      (1 until m).map(i => array_contains(col(s"p$i"), p + i))
        .foldLeft(lit(true))(_ && _))).cast("long")
    joined.select(col("doc_id"), matches.as("n_matches"))
      .where(col("n_matches") > 0)
  }

  /** Proximity (slop) search — the query between phrase and
    * bag-of-words: documents containing ALL `terms` with the minimal
    * token span covering one occurrence of each ≤ `window` ("hash
    * near batch", not "hash anywhere and batch anywhere"). Returns
    * every all-terms doc with its exact min_window (span = max−min+1
    * over one-occurrence-per-term choices) and the ≤window verdict,
    * so one relation answers any tighter slop too.
    *
    * Scale shape: the [[positionalPostings]] scan with the term
    * filter pushed down, then a doc-keyed m-way join of exploded
    * per-term occurrence lists — per-doc cost is the product of the
    * queried terms' WITHIN-DOC frequencies (query-term tf, single
    * digits in prose; the corpus-wide df never multiplies). A
    * pathological doc repeating every query term thousands of times
    * would want the sorted-merge linear min-window instead — at that
    * point cap per-doc tf like the inverted index caps df. */
  def proximitySearch(docs: DataFrame, terms: Seq[String], window: Int,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(terms.distinct.size == terms.size && terms.size >= 2,
      "proximitySearch needs >= 2 distinct terms")
    require(window >= terms.size, "window can't be tighter than the term count")
    val lists = positionalPostings(docs, terms, textCol, idCol).truncateLineage
    val joined = terms.zipWithIndex.map { case (t, i) =>
      lists.where(col("word") === t).select(col("doc_id"), explode(col("ps")).as(s"p$i"))
    }.reduce((a, b) => a.join(b, "doc_id"))
    val ps = terms.indices.map(i => col(s"p$i"))
    joined
      .select(col("doc_id"), (greatest(ps: _*) - least(ps: _*) + 1).as("span"))
      .groupBy(col("doc_id"))
      .agg(min(col("span")).cast("long").as("min_window"),
        count(lit(1)).as("n_combos"))
      .withColumn("within", col("min_window") <= window)
  }

  /** Feature-hashed TF-IDF document vectors (the hashing trick,
    * Weinberger et al. ICML 2009, public): each term's tf·idf mass
    * lands in dimension refBinHash(word) mod `dim` — a MODEL-FREE
    * document embedding, so content-similarity retrieval and
    * semantic-dedup-style clustering run on corpora that have no
    * precomputed embedding column. Output is the SPARSE relational
    * form (doc_id, dim_idx, v) with the vector L2-normalized — the
    * representation that joins, aggregates and shuffles like any
    * other relation (a dense array column would resist pruning and
    * per-dimension joins).
    *
    * Engine-exact: idf = round(ln((N+1)/(df+1)) + 1, 12) (the rounded
    * -log device the LM family proved hash-stable), per-dim mass and
    * the squared norm are DECIMAL(38,12) sums of rounded(12) terms
    * (order-independent), sqrt/divide are single IEEE ops. N rides
    * the plan as a broadcast one-row aggregate.
    *
    * Scale shape: one corpus tokenize (materialized once, both the df
    * and contribution branches read it), everything after is keyed on
    * word or (doc, dim) — bounded-state aggs, no corpus-wide sort. */
  def tfidfHashedVectors(docs: DataFrame, dim: Int = 64,
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tf = docTermFreqs(docs, textCol, idCol).truncateLineage
    val dfT = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val nRow = tf.agg(countDistinct(col("doc_id")).as("n_docs"))
    val idf = dfT.crossJoin(broadcast(nRow))
      .select(col("word"),
        round(log((col("n_docs").cast(DoubleType) + 1.0) / (col("df").cast(DoubleType) + 1.0)) + 1.0, 12)
          .as("idf"))
    val dec = DecimalType(38, 12)
    val contrib = tf.join(idf, "word")
      .select(col("doc_id"), TextOps.refBinHash(col("word"), dim).as("dim_idx"),
        round(col("tf").cast(DoubleType) * col("idf"), 12).cast(dec).as("c"))
    val sdim = contrib.groupBy(col("doc_id"), col("dim_idx"))
      .agg(sum(col("c")).as("sd"))
      .select(col("doc_id"), col("dim_idx"), col("sd").cast(DoubleType).as("s"))
      .truncateLineage // read twice: the norm agg and the final join
    val norms = sdim
      .select(col("doc_id"), round(col("s") * col("s"), 12).cast(dec).as("q"))
      .groupBy(col("doc_id")).agg(sum(col("q")).as("qq"))
      .select(col("doc_id"), sqrt(col("qq").cast(DoubleType)).as("norm"))
    sdim.join(norms, "doc_id")
      .select(col("doc_id"), col("dim_idx"), round(col("s") / col("norm"), 8).as("v"))
  }

  /** Diversified content top-k by Maximal Marginal Relevance
    * (Carbonell & Goldstein, SIGIR 1998, public): greedily pick the
    * document maximizing λ·rel − (1−λ)·maxSimToSelected — plain
    * cosine top-k returns k near-copies of the best hit, which for
    * corpus inspection / eval-set construction is k−1 wasted slots;
    * MMR trades relevance for coverage explicitly (the diversified
    * top-k family of PAPERS.md's region-search entry, on documents).
    *
    * Greedy selection is inherently sequential in k: each of the k
    * rounds is ONE distributed argmax (TakeOrderedAndProject) and one
    * broadcast-vector similarity pass updating a running max — the
    * driver touches one row per round (the kmeans/pageRank bounded-
    * loop class), never the corpus. Candidates are the docs sharing
    * ≥1 hashed dim with the query (the same inner-join frontier as
    * [[tfidfQueryTopK]]). All scores rounded(6) with doc_id
    * tie-break — deterministic and twinnable; λ and 1−λ are the SAME
    * Scala doubles the twin interpolates. */
  def mmrTopK(docs: DataFrame, queryId: Long, k: Int = 5, lam: Double = 0.7,
              dim: Int = 64, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    val vecs = tfidfHashedVectors(docs, dim, textCol, idCol).truncateLineage
    val dec = DecimalType(38, 12)
    def dotWith(target: DataFrame, asCol: String): DataFrame =
      vecs.join(broadcast(target), "dim_idx")
        .select(col("doc_id"), round(col("v") * col("tv"), 12).cast(dec).as("p"))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("p")).cast(DoubleType), 6).as(asCol))
    val q = vecs.where(col("doc_id") === queryId).select(col("dim_idx"), col("v").as("tv"))
    val rel = dotWith(q, "rel").where(col("doc_id") =!= queryId).truncateLineage
    var m = rel.select(col("doc_id"), lit(0.0).as("msim"))
    var picked = List.empty[(Int, Long, Double)]
    var exhausted = false
    for (step <- 1 to k if !exhausted) {
      val excluded = queryId :: picked.map(_._2)
      val topOpt = rel.join(m, "doc_id")
        .where(!col("doc_id").isin(excluded: _*))
        .select(col("doc_id"),
          round(lit(lam) * col("rel") - lit(1.0 - lam) * col("msim"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(1)
        .collect().headOption // one row per round — the bounded-loop driver class
      topOpt match {
        case None =>
          // fewer than k docs share a hashed dim with the query —
          // return the shorter ranking rather than throwing
          exhausted = true
        case Some(top) =>
          picked = picked :+ ((step, top.getLong(0), top.getDouble(1)))
          if (step < k) {
            val sv = vecs.where(col("doc_id") === top.getLong(0))
              .select(col("dim_idx"), col("v").as("tv"))
            m = m.join(dotWith(sv, "s"), Seq("doc_id"), "left")
              .select(col("doc_id"), greatest(col("msim"), coalesce(col("s"), lit(0.0))).as("msim"))
              .truncateLineage
          }
      }
    }
    import spark.implicits._
    picked.toDF("rank", "doc_id", "score")
      .select(col("rank").cast("long").as("rank"), col("doc_id"), col("score"))
  }

  /** Content top-k: the `k` documents most cosine-similar to document
    * `queryId` under [[tfidfHashedVectors]] — normalized vectors make
    * cosine a plain sparse dot product. The query vector (≤ dim rows)
    * broadcasts; the corpus side joins on dim_idx, partial-aggregates
    * map-side, and TakeOrderedAndProject bounds the pick — the
    * brute-force baseline shape [[graft.operators.Similarity]]'s ANN
    * paths accelerate, here available with no embedding column. */
  def tfidfQueryTopK(docs: DataFrame, queryId: Long, k: Int, dim: Int = 64,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val vecs = tfidfHashedVectors(docs, dim, textCol, idCol).truncateLineage
    val q = vecs.where(col("doc_id") === queryId).select(col("dim_idx"), col("v").as("qv"))
    vecs.where(col("doc_id") =!= queryId)
      .join(broadcast(q), "dim_idx")
      .select(col("doc_id"), round(col("v") * col("qv"), 12).cast(DecimalType(38, 12)).as("p"))
      .groupBy(col("doc_id")).agg(sum(col("p")).as("sp"))
      .select(col("doc_id"), round(col("sp").cast(DoubleType), 6).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(k)
  }
}
