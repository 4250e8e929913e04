package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.Lineage.TruncateOps

/** Corpus-construction operators for training-data pipelines
  * (SURVEY.md §2.11 [NS]): deterministic sampling, stratified
  * sampling, fixed-size chunking, mixture up-weighting and
  * quantile-based quality filtering.
  *
  * Everything here is narrow or window-per-stratum — no joins, no
  * driver-side state — and every operator is DETERMINISTIC: sampling
  * decisions hash the CONTENT (not rand(), not monotonically
  * increasing ids), so a re-run, a task retry, or a different
  * partitioning selects the identical corpus — the property that makes
  * a 100 TB dataset build reproducible and lets an oracle check the
  * result exactly. Sampling reuses the reference's affine char-sum
  * hash (map_reduce.cpp:214-217 via TextOps.refBinHash), the one hash
  * in the engine with an exact DuckDB twin.
  */
object Corpus {

  /** Deterministic content-hash bucket in [0, 1000): the sampling key.
    * Hashes the first `keyLen` chars — enough content to decorrelate
    * from any metadata, cheap enough to stay linear in docs (not in
    * text length). */
  def hashPermille(textCol: Column, keyLen: Int = 64): Column =
    TextOps.refBinHash(substring(textCol, 1, keyLen), 1000)

  /** Keep a deterministic `permille`/1000 sample of the corpus.
    * Content-hash-based: stable across runs, retries, partitionings
    * and cluster sizes — rand()-based sampling is none of these. */
  def sampleByHash(docs: DataFrame, permille: Int = 100, textCol: String = "text"): DataFrame =
    docs.where(hashPermille(col(textCol)) < permille)

  /** Per-stratum deterministic sampling: each stratum (e.g. language)
    * gets its own keep-rate in permille — the standard rebalancing
    * move when one stratum dominates the raw crawl. Unlisted strata
    * fall back to `defaultPermille`. */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Int],
                       defaultPermille: Int = 1000,
                       strataCol: String = "lang", textCol: String = "text"): DataFrame = {
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultPermille): Column) {
      case (acc, (stratum, permille)) => when(col(strataCol) === stratum, lit(permille)).otherwise(acc)
    }
    docs.where(hashPermille(col(textCol)) < rate)
  }

  /** Per-source DATA-BUDGET cap: keep each group's documents, in a
    * deterministic pseudo-random order, until the group's cumulative
    * weight (tokens, chars, bytes) reaches `budget` — "at most N
    * tokens of web crawl, M of code" stated directly instead of
    * tuning sampling rates until the mix lands nearby. The order is a
    * Knuth multiplicative hash of the id — engine-exact integer
    * arithmetic (unlike engine-specific hash builtins), stable across
    * runs and partitionings, and uncorrelated with insertion order so
    * the kept prefix is an unbiased sample of the group. Strict cap:
    * the first document that would cross the budget is dropped (with
    * everything after it).
    *
    * Scale: one key-partitioned running sum — parallelism is group
    * cardinality, no global sort; a hot group is one partition's sort,
    * the same class as every per-key window here. */
  def budgetCap(docs: DataFrame, budget: Long, groupCol: String = "lang",
                weightCol: Column = length(col("text")),
                idCol: String = "doc_id"): DataFrame = {
    // reduce the id BELOW the multiply: ids past 2^31 would overflow
    // the 64-bit product (silent wrap here, an error in an ANSI
    // engine); (id mod 2^31) · K stays under 2^63 and keeps the
    // engine-exact-arithmetic claim true at any corpus size, with the
    // id itself as the order's tiebreaker for aliased buckets
    val ord = pmod(pmod(col(idCol), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    val w = Window.partitionBy(col(groupCol)).orderBy(ord, col(idCol))
    docs.withColumn("__cum", sum(weightCol).over(w))
      .where(col("__cum") <= budget)
      .drop("__cum")
  }

  /** Priority sampling (Duffield, Lund, Thorup, "Priority sampling for
    * estimation of arbitrary subset sums", JACM 2007): draw a fixed-k
    * weight-biased sample that supports UNBIASED subset-sum estimates —
    * the sampling scheme a corpus-curation pipeline wants when it must
    * subsample 100 TB down to an inspectable k documents yet still
    * report "this slice holds an estimated N tokens of code". Each doc
    * gets priority q = w/u (u uniform); the k highest-priority docs are
    * kept and every kept doc's weight estimate is max(w, τ) with τ the
    * (k+1)-th priority — E[Σ estimates over any subset] equals that
    * subset's true weight sum.
    *
    * Deterministic and engine-exact: u comes from the same Knuth
    * multiplicative id hash as [[budgetCap]] (pure 64-bit integer
    * arithmetic, no engine-specific builtin), and ranking by q
    * descending is ranking by the INTEGER key floor(h·2^20/w)
    * ascending — h ≤ 2^32 so h·2^20 ≤ 2^52 stays exactly
    * representable and the floor is provably exact (quotient·divisor
    * can't exceed 2^52, so division can't round across an integer
    * boundary). τ reconstructs as the single IEEE division
    * 2^52/key_(k+1) on identical inputs — note this floored-key
    * reconstruction yields τ ≥ the true (k+1)-th priority, so w_est
    * carries a SMALL systematic upward bias relative to the textbook
    * estimator (bounded by one key quantum, ~w/2^20 relative); the
    * trade buys integer-exact cross-engine determinism. Carry the
    * threshold row's (h, w) and compute τ = w·2^32/h to recover the
    * exact estimator if unbiasedness matters more than twinability.
    *
    * Scale shape: the ONLY full-data operation is the top-(k+1) pick,
    * which Catalyst plans as TakeOrderedAndProject — per-partition
    * bounded heaps, one k-sized merge, no global sort, no shuffle of
    * the corpus. Rank/threshold bookkeeping runs on the k+1 surviving
    * rows. Docs with non-positive weight are excluded (q undefined).
    * Output: (idCol, weight, w_est) — w_est = max(w, τ) rounded to 6. */
  def prioritySample(docs: DataFrame, k: Int,
                     weightCol: Column = length(col("text")),
                     idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "prioritySample needs k > 0")
    priorityFinish(priorityKeyed(docs, weightCol, idCol), k, idCol)
  }

  /** The keying half of [[prioritySample]]: (idCol, weight, __key)
    * with the exact-integer priority key. Split out so a STREAMING
    * sampler can key each micro-batch and keep only its local
    * top-(k+1) — the candidate frontier is associative (the global
    * top-(k+1) is contained in any union of per-slice top-(k+1)s),
    * so batch-local frontiers compose losslessly. */
  def priorityKeyed(docs: DataFrame,
                    weightCol: Column = length(col("text")),
                    idCol: String = "doc_id"): DataFrame = {
    // key clamped to >= 1: even with h > 0 the FLOOR collapses to 0
    // once weight > h·2^20 (a multi-megabyte doc drawing a small h),
    // and a zero threshold key would divide τ by zero. Clamping to 1
    // keeps such monsters at the maximum priority the key space can
    // express (they tie, doc_id breaks it) and τ = 2^52/1 finite; the
    // four floored-key twins carry the identical greatest(). Unreached
    // at fixture weights (≤ KB-scale), so no hash moves.
    docs.select(col(idCol), weightCol.cast(LongType).as("weight"))
      .where(col("weight") > 0)
      .withColumn("__key", greatest(floor(priorityHash(col(idCol)) * lit(1048576L)
        / col("weight").cast(DoubleType)).cast(LongType), lit(1L)))
  }

  /** The Knuth multiplicative id hash both priority samplers rank by,
    * mapped into (0, 2^32]: h = 0 (ids ≡ 0 mod 2^31, e.g. doc_id 0)
    * becomes 2^32, so u = h/2^32 stays in (0, 1] and the exact
    * variant's τ = w·2^32/h is always finite (ADVICE r13). The floored
    * variant needs the [[priorityKeyed]] key clamp TOO — its floor can
    * reach 0 from the weight side alone. Both DuckDB twins apply the
    * identical CASE. */
  private def priorityHash(id: Column): Column = {
    val h0 = knuthIdHash(id)
    when(h0 === 0L, lit(4294967296L)).otherwise(h0)
  }

  /** The raw engine-exact Knuth multiplicative id hash in [0, 2^32) —
    * shared by the priority keyers (via [[priorityHash]]'s (0, 2^32]
    * remap) and the curriculum shard/order keys (raw: shard routing
    * never divides by it, and the twins replay the raw form). */
  private def knuthIdHash(id: Column): Column =
    pmod(pmod(id, lit(2147483648L)) * lit(2654435761L), lit(4294967296L))

  /** The hint-or-pin branch decision every adaptive score operator
    * shares: a caller bound costs zero jobs; otherwise pin once
    * ([[TotalOrder.fitsOneTask]]) so the decision count cannot
    * re-evaluate a join-heavy input per consumer. */
  private def sizeOrPin(df: DataFrame, sizeHint: Option[Long],
                        cutover: Long): (DataFrame, Boolean) =
    sizeHint match {
      case Some(bound) => (df, bound <= cutover)
      case None => TotalOrder.fitsOneTask(df, cutover)
    }

  /** The finish half of [[prioritySample]] over an ALREADY-keyed
    * relation (any superset of the global top-(k+1) candidate
    * frontier gives the identical answer). */
  def priorityFinish(keyed: DataFrame, k: Int,
                     idCol: String = "doc_id"): DataFrame =
    priorityPick(keyed.withColumn("__ord", col("__key")), k, idCol, Nil,
      // τ from the floored integer key of the threshold row (= the
      // max key among the k+1): 2^52 / key
      t => lit(4503599627370496.0) / t.getField("__ord").cast(DoubleType))

  /** The finish skeleton BOTH estimator variants share: top-(k+1) by
    * (__ord, id) — TakeOrderedAndProject, bounded per-partition heaps,
    * k+1 rows out, materialized once so ranked and stats never re-run
    * the corpus-wide pick — then rank, threshold row (the lexicographic
    * max of (__ord, id), carrying `thresholdFields` so τ can read the
    * threshold row's OWN values), boundary filter, max(w, τ) estimate.
    * Everything after the pick runs on ≤ k+1 rows. */
  private def priorityPick(keyed: DataFrame, k: Int, idCol: String,
                           thresholdFields: Seq[Column],
                           tauOf: Column => Column): DataFrame = {
    require(k > 0, "priority sampling needs k > 0")
    val top = keyed.orderBy(col("__ord"), col(idCol)).limit(k + 1).truncateLineage
    val ranked = top.withColumn("__rn",
      row_number().over(Window.orderBy(col("__ord"), col(idCol))))
    val stats = top.agg(count(lit(1)).as("__cnt"),
      max(struct((col("__ord") +: col(idCol).as("__i") +: thresholdFields): _*)).as("__t"))
    val tau = when(col("__cnt") === k + 1, tauOf(col("__t"))).otherwise(lit(0.0))
    ranked.crossJoin(broadcast(stats))
      .where(col("__cnt") <= k || col("__rn") <= k)
      .select(col(idCol), col("weight"),
        round(greatest(col("weight").cast(DoubleType), tau), 6).as("w_est"))
  }

  /** The textbook-exact estimator variant of [[prioritySample]]
    * (Duffield-Lund-Thorup's own τ): ranks by the TRUE priority
    * q = w·2^32/h — implemented as the equivalent ascending ratio
    * h/w, ONE IEEE division on integer-valued operands, identical in
    * both engines — and reconstructs τ from the threshold row's own
    * (h, w) as w·2^32/h. This recovers the unbiased max(w, τ)
    * estimator that the floored-key variant deliberately trades away
    * (its reconstructed τ sits above the true (k+1)-th priority by up
    * to one key quantum, a small systematic upward bias its scaladoc
    * documents). Registered alongside it so a pipeline can pick
    * unbiasedness or integer-exact keys per use; the two variants
    * select near-identical samples (they rank the same ratio, floored
    * vs not). Same scale shape: the corpus-wide work is ONE
    * TakeOrderedAndProject top-(k+1) pick; ranking, threshold and
    * estimates run on the ≤ k+1 surviving rows. */
  def prioritySampleExact(docs: DataFrame, k: Int,
                          weightCol: Column = length(col("text")),
                          idCol: String = "doc_id"): DataFrame =
    priorityFinishExact(priorityKeyedExact(docs, weightCol, idCol), k, idCol)

  /** The keying half of [[prioritySampleExact]] — (idCol, weight,
    * __h, __ord) with __ord = h/w, the ascending equivalent of the
    * true priority q = w·2^32/h. Split out like [[priorityKeyed]] so
    * a streaming sampler can compose batch-local top-(k+1) frontiers
    * losslessly. */
  def priorityKeyedExact(docs: DataFrame,
                         weightCol: Column = length(col("text")),
                         idCol: String = "doc_id"): DataFrame = {
    docs.select(col(idCol), weightCol.cast(LongType).as("weight"))
      .where(col("weight") > 0)
      .withColumn("__h", priorityHash(col(idCol)).cast(DoubleType))
      .withColumn("__ord", col("__h") / col("weight").cast(DoubleType))
  }

  /** The finish half of [[prioritySampleExact]]: the shared skeleton
    * with τ read from the threshold row's OWN (h, w) as w·2^32/h —
    * the unbiased textbook estimator. */
  def priorityFinishExact(keyed: DataFrame, k: Int,
                          idCol: String = "doc_id"): DataFrame =
    priorityPick(keyed, k, idCol,
      Seq(col("__h").as("__th"), col("weight").as("__tw")),
      t => t.getField("__tw").cast(DoubleType) * lit(4294967296.0) / t.getField("__th"))

  /** Curriculum shard assignment: bucket documents into `phases`
    * quality strata by the GLOBAL percent rank of a caller-supplied
    * `score` column, then round-robin each stratum across `nShards`
    * output shards with a deterministic within-shard sequence — the
    * materialized training ORDER ("easy/low-quality phases first,
    * highest-quality last"), the one thing a plain quality FILTER
    * cannot express. A trainer reads phase 0's shards, then phase
    * 1's, …; within a phase every shard holds an unbiased (hash-
    * ordered) slice of the stratum.
    *
    * Scale shape: the percent rank comes from the shared
    * percent-rank-by-value relation ([[scoreRanksByValue]]) — a
    * (distinct-score)-sized relation, never a corpus-wide sort.
    * Below the cutover its one unpartitioned window runs over the
    * HISTOGRAM and the join back is a broadcast; above it (continuous
    * model scores, where the histogram ≈ the corpus — VERDICT r13 #2)
    * the ranks come from TeraSort prefix sums and the join back is a
    * distributed equi-join on score, no score-scale broadcast
    * anywhere. Doc-scale work is that one join plus a per-(phase,
    * shard) row_number — parallelism is phases × shards, each
    * partition ~|corpus|/(P·S). All ordering keys are the
    * engine-exact Knuth id hash ([[budgetCap]]), so the curriculum is
    * reproducible across runs and partitionings.
    * Output: (idCol, score, pr, phase, shard, seq). */
  def curriculumShards(scored0: DataFrame, phases: Int = 4, nShards: Int = 8,
                       idCol: String = "doc_id",
                       sizeHint: Option[Long] = None,
                       cutover: Long = TotalOrder.WindowCutover): DataFrame = {
    require(phases > 0 && nShards > 0, "curriculumShards needs phases > 0 and nShards > 0")
    val (scored, small) = sizeOrPin(scored0, sizeHint, cutover)
    val ranks = scoreRanksByValue(scored.select(col(idCol), col("score")), Seq.empty, small, cutover)
    val h = knuthIdHash(col(idCol))
    (if (small) scored.join(broadcast(ranks), "score") else scored.join(ranks, "score"))
      .select(col(idCol), col("score"), col("pr"),
        least(lit((phases - 1).toLong), floor(col("pr") * phases).cast(LongType)).as("phase"),
        (h % nShards).cast(LongType).as("shard"),
        h.as("__ord"))
      .withColumn("seq", row_number()
        .over(Window.partitionBy(col("phase"), col("shard")).orderBy(col("__ord"), col(idCol)))
        .cast(LongType))
      .drop("__ord")
  }

  /** Split each document into fixed-size character chunks (the context
    * -window packing primitive): (doc_id, chunk_idx, chunk, n_chunks).
    * Pure generator over a narrow projection — scales linearly, no
    * shuffle. Documents shorter than one chunk produce one chunk; an
    * empty text produces none. */
  def chunk(docs: DataFrame, size: Int = 128,
            textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val nChunks = ceil(length(col(textCol)) / lit(size.toDouble)).cast(LongType)
    val passthrough = docs.columns.filter(c => c != textCol && c != idCol).map(col).toSeq
    docs.select(col(idCol).as("doc_id") +: col(textCol).as("text") +:
        nChunks.as("n_chunks") +: passthrough: _*)
      // guard the generator: sequence(start, stop) steps -1 when
      // start > stop, so an empty text (n_chunks = 0) would evaluate
      // sequence(0, -1) = [0, -1] and emit two spurious chunks.
      // when(...) yields NULL for n_chunks = 0 and explode drops it —
      // matching the oracle's generate_series(0, -1) = empty.
      .withColumn("chunk_idx",
        explode(when(col("n_chunks") > 0, sequence(lit(0L), col("n_chunks") - 1))))
      .withColumn("chunk",
        col("text").substr((col("chunk_idx") * size + 1).cast(IntegerType), lit(size)))
      .drop("text")
      .select(col("doc_id") +: col("chunk_idx") +: col("chunk") +: col("n_chunks") +: passthrough: _*)
  }

  /** Overlapping context windows — the chunker embedding/RAG
    * pipelines actually want (a fact cut at a hard boundary is
    * invisible to both neighboring disjoint chunks; overlap
    * size−stride keeps every span inside at least one window):
    * window i = substring(i·stride+1, size), i in [0, ceil(len/
    * stride)), tail windows shortening naturally. stride == size
    * degenerates to [[chunk]]. Same narrow zero-shuffle generator
    * shape; the deliberate cost is the size/stride duplication
    * factor in output bytes. */
  def chunkSliding(docs: DataFrame, size: Int, stride: Int,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      "chunkSliding needs 0 < stride <= size")
    val nChunks = ceil(length(col(textCol)) / lit(stride.toDouble)).cast(LongType)
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        nChunks.as("n_chunks"))
      // same empty-text generator guard as chunk()
      .withColumn("chunk_idx",
        explode(when(col("n_chunks") > 0, sequence(lit(0L), col("n_chunks") - 1))))
      .withColumn("chunk",
        col("text").substr((col("chunk_idx") * stride + 1).cast(IntegerType), lit(size)))
      .select(col("doc_id"), col("chunk_idx"), col("chunk"), col("n_chunks"))
  }

  /** Sentence-aligned chunking: pack whole sentences into ~`budget`-
    * char chunks (chunk id = floor(chars-before/budget) with the
    * joining space counted), so no chunk ever cuts a sentence — the
    * boundary rule retrieval chunkers prefer over hard character
    * cuts. A sentence longer than the budget owns its span and later
    * sentences land in later ids (ids stay monotone per doc and may
    * skip — position, not sequence). Per-doc window over the
    * sentence relation + one (doc, chunk) string_agg: partitioned by
    * document, bounded state, no global sort. */
  def sentenceChunks(docs: DataFrame, budget: Int,
                     textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(budget > 0, "sentenceChunks needs budget > 0")
    val sents = TextQuality.sentences(docs, textCol, idCol)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("sent_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sents
      .withColumn("cum_before",
        coalesce(sum(length(col("sentence")) + lit(1)).over(w), lit(0L)))
      .withColumn("chunk_idx", floor(col("cum_before") / budget))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(count(lit(1)).as("n_sents"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("sent_idx"), col("sentence")))),
          s => s.getField("sentence"))).as("chunk"))
      .withColumn("n_chars", length(col("chunk")).cast(LongType))
  }

  /** Integral mixture up-weighting: replicate each document `w(stratum)`
    * times, emitting a copy index — how a mixture spec ("3 epochs of
    * code, 1 of web") becomes rows. Integral weights keep the operation
    * exact and oracle-checkable; fractional parts should be expressed
    * as a stratifiedSample of one extra copy. */
  def mixtureUpsample(docs: DataFrame, weights: Map[String, Int],
                      defaultWeight: Int = 1, strataCol: String = "lang",
                      idCol: String = "doc_id"): DataFrame = {
    val w = weights.toSeq.sortBy(_._1).foldLeft(lit(defaultWeight): Column) {
      case (acc, (stratum, weight)) => when(col(strataCol) === stratum, lit(weight)).otherwise(acc)
    }
    // weight 0 must DROP the stratum, not duplicate it: sequence(1, 0)
    // is [1, 0] (negative step), so guard like chunk() above.
    docs.select(col(idCol).as("doc_id"), col(strataCol).as(strataCol),
        explode(when(w > 0, sequence(lit(1L), w.cast(LongType)))).as("copy_id"))
  }

  /** Sequence packing: assign chunks to fixed token-budget packs — the
    * step between chunking and batch assembly in a training-data build
    * ("concat then split at `tokensPerPack` boundaries"). A chunk joins
    * the pack its START offset falls in, so chunks never split and a
    * pack overruns its budget by at most one chunk's tokens.
    *
    * Scale shape: a single global running sum would be one task; packing
    * instead runs per SHARD (doc_id mod nShards) — one shuffle on the
    * shard key, a per-shard cumulative window, embarrassingly parallel
    * across shards. Shard assignment is content-independent and
    * deterministic, so re-runs pack identically; packs are local to a
    * shard, which is what a 1000-executor run wants anyway (each
    * executor emits finished packs with no cross-worker coordination).
    */
  def packChunks(chunks: DataFrame, tokensPerPack: Long, nShards: Int = 64,
                 tokenCol: String = "n_tokens", docCol: String = "doc_id",
                 idxCol: String = "chunk_idx"): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col(docCol), col(idxCol))
    chunks
      .withColumn("shard", pmod(col(docCol), lit(nShards.toLong)))
      .withColumn("start_off", coalesce(
        sum(col(tokenCol)).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("pack_id", floor(col("start_off") / tokensPerPack))
  }

  /** Pack assembly — the step after [[packChunks]]: materialize each
    * pack's training sequence by concatenating its chunks in (doc_id,
    * chunk_idx) order. The collect_list is BOUNDED by construction — a
    * pack holds at most tokensPerPack + one chunk's tokens — so the
    * per-group sort-and-join is safe at any corpus size; parallelism
    * is (shard × pack), the same grain a 1000-executor run wants. */
  def assemblePacks(packed: DataFrame, sep: String = " ",
                    docCol: String = "doc_id", idxCol: String = "chunk_idx",
                    chunkCol: String = "chunk", tokenCol: String = "n_tokens"): DataFrame =
    packed.groupBy(col("shard"), col("pack_id"))
      .agg(
        array_join(expr(
          s"transform(array_sort(collect_list(struct($docCol, $idxCol, $chunkCol))), s -> s.$chunkCol)"),
          sep).as("pack_text"),
        sum(col(tokenCol)).as("pack_tokens"),
        count(lit(1)).cast(LongType).as("n_chunks"))

  /** Benchmark decontamination: flag training documents that share at
    * least `minOverlap` distinct w-gram shingles with ANY benchmark
    * document — the standard eval-set-leakage guard in a training-data
    * build. Output: every training doc with its overlap count and flag.
    *
    * Scale shape: both sides reduce to 64-bit shingle ids
    * (Dedup.shingleIds), so the only shuffle moves 8-byte keys; the
    * benchmark side is distinct-shingle-deduped and joins as the small
    * build side (broadcastable when the benchmark is eval-suite-sized).
    * The 64-bit hash makes a counted overlap differ from text-shingle
    * truth only on collisions (~n²/2⁶⁵ — negligible, same budget as
    * Dedup.shingleIds). */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, w: Int = 3,
                    minOverlap: Int = 2, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val docSh = Dedup.shingleIds(docs, w, textCol, idCol)
    val benchSh = Dedup.shingleIds(benchmark, w, textCol, idCol)
      .select(col("sh")).distinct()
    val overlap = docSh.join(benchSh, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
    docs.select(col(idCol).as("doc_id"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= minOverlap).as("contaminated"))
  }

  /** Temperature-based stratum rebalancing at temperature α = 1/2 —
    * the multilingual-LM mixture move (sample strata ∝ p^α so head
    * languages shrink and tail languages survive), expressed as a
    * deterministic per-stratum down-sampling rate
    *
    *   rate(l) = (n_min / n_l)^(1-α) = sqrt(n_min) / sqrt(n_l)
    *
    * normalized so the smallest stratum keeps everything. α is fixed
    * at 1/2 deliberately: sqrt, divide and multiply are all IEEE
    * correctly-rounded, so the permille thresholds are BIT-IDENTICAL
    * doubles in any engine computing the same formula — `pow(x, α)`
    * for general α is not, and would put the keep/drop decision one
    * ulp from flipping. The keep decision reuses the content-hash
    * permille, so the resample is reproducible under retries and
    * repartitioning like every sampler here.
    *
    * Scale shape: stratum counts are one partial-aggregated shuffle of
    * (stratum) keys; the rate table is stratum-cardinality-sized and
    * broadcast back. No row-scale shuffle at all. */
  def temperatureResample(docs: DataFrame, strataCol: String = "lang",
                          textCol: String = "text"): DataFrame =
    resampleWithRates(docs, temperatureRates(docs, strataCol), strataCol, textCol)

  /** The rate table alone — (stratum, n_l, keep_permille) from a
    * PROFILE corpus. Split out so a streaming ingest can derive the
    * policy ONCE from a profile snapshot and apply it unchanged to
    * every micro-batch (per-batch rates would drift with batch
    * composition and make the run order-dependent). */
  def temperatureRates(profile: DataFrame, strataCol: String = "lang"): DataFrame = {
    val counts = profile.groupBy(col(strataCol)).agg(count(lit(1)).as("n_l"))
    val minN = counts.agg(min(col("n_l")).as("n_min"))
    counts.crossJoin(broadcast(minN))
      .withColumn("keep_permille",
        floor(lit(1000.0) * sqrt(col("n_min").cast(DoubleType))
          / sqrt(col("n_l").cast(DoubleType))).cast(LongType))
      .select(col(strataCol), col("n_l"), col("keep_permille"))
  }

  /** Apply a precomputed rate table: broadcast join on the stratum,
    * keep by the content-hash permille (retry- and order-stable). */
  def resampleWithRates(docs: DataFrame, rates: DataFrame,
                        strataCol: String = "lang", textCol: String = "text"): DataFrame =
    docs.join(broadcast(rates), Seq(strataCol))
      .where(hashPermille(col(textCol)) < col("keep_permille"))

  /** All stopwords of all languages — the combined natural-language
    * signal for quality scoring (per-language lists: TextQuality).
    * Public so the DuckDB oracle twin is generated from the same list. */
  val AllStopwords: Seq[String] =
    TextQuality.Stopwords.toSeq.sortBy(_._1).flatMap(_._2)

  /** Multi-signal quality fusion (the move after single gates: blend
    * heterogeneous signals — classifier llr, density ratios, LM
    * scores — into ONE calibrated score instead of cascading hard
    * cuts that each discard differently-shaped good documents). Each
    * signal is z-normalized and the weighted mean decides:
    * `kept = Σ wᵢ·zᵢ / k >= 0`; weights carry direction (a
    * higher-is-worse signal takes a negative weight).
    *
    * Determinism discipline: moments come from DECIMAL sums (x cast
    * 12-dp; x² exact-rounded then 12-dp) so partitioning cannot
    * reorder float adds; mean, variance, sqrt, the z divisions and the
    * blend are single IEEE correctly-rounded ops on identical inputs —
    * bit-identical cross-engine. A constant signal (sd = 0) is a
    * caller error and fails LOUD in-plan (raise_error) — Spark's
    * non-ANSI double divide would return NULL on the zero divisor
    * while DuckDB's IEEE divide yields NaN/±inf, so letting it flow
    * would break the bit-identical cross-engine claim for exactly
    * that degenerate case (ADVICE r14).
    *
    * Scale shape: ONE scalar moments row crossed in by broadcast; no
    * window, no sort, no per-signal pass. */
  def qualityEnsemble(scored: DataFrame, signals: Seq[(String, Double)],
                      idCol: String = "doc_id"): DataFrame = {
    require(signals.nonEmpty, "qualityEnsemble needs at least one signal")
    val dec = DecimalType(28, 12)
    val aggs = signals.flatMap { case (c, _) => Seq(
      sum(col(c).cast(dec)).as(s"__s_$c"),
      sum(round(col(c) * col(c), 12).cast(dec)).as(s"__q_$c")) }
    val m = scored.agg(count(lit(1)).as("__n"), aggs: _*)
    val zs = signals.map { case (c, w) =>
      val mean = col(s"__s_$c").cast(DoubleType) / col("__n")
      val ex2 = col(s"__q_$c").cast(DoubleType) / col("__n")
      val sd0 = sqrt(greatest(ex2 - mean * mean, lit(0.0)))
      // constant signal: fail loud rather than emit NULL (Spark) vs
      // NaN/inf (DuckDB) — see the determinism note above
      val sd = when(sd0 > 0.0, sd0).otherwise(raise_error(lit(
        s"qualityEnsemble: signal '$c' is constant (sd = 0); " +
          "z-normalization is undefined - drop or reweight it")).cast(DoubleType))
      lit(w) * ((col(c) - mean) / sd)
    }
    scored.crossJoin(broadcast(m))
      .withColumn("ensemble_score", round(zs.reduce(_ + _) / signals.size, 6))
      .withColumn("kept", col("ensemble_score") >= 0)
      .drop("__n" +: signals.flatMap { case (c, _) => Seq(s"__s_$c", s"__q_$c") }: _*)
  }

  /** Domain-level quality gating (the RefinedWeb/CCNet move of
    * scoring SOURCES, not documents: a domain whose pooled text reads
    * like boilerplate is dropped wholesale, catching spam farms whose
    * individual pages pass per-document cuts). Pools each domain's
    * stopword hits and token counts, then keeps the documents of
    * domains whose POOLED stopword density is at least the
    * corpus-wide density.
    *
    * Determinism discipline: the density compare is the cross-multiply
    * `hits_d · toks_corpus >= hits_corpus · toks_d` in DECIMAL(38,0)
    * (19-digit operands, exact product) — no float division anywhere,
    * so the DuckDB twin (HUGEINT) decides identically.
    *
    * Scale shape: one partial-aggregated shuffle to domain granularity
    * (domain count ~10⁷ max — far below row count), a 1-row corpus
    * total crossed in, and a broadcast of the domain-count-sized
    * verdict relation back onto the corpus. No document-scale sort,
    * no window. */
  def domainQualityGate(docs: DataFrame, domainCol: String = "host",
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val tk = TextOps.rawTokens(col(textCol))
    val hits = size(filter(tk, t =>
      array_contains(array(AllStopwords.map(lit): _*), lower(t))))
    val perDoc = docs.select(col(domainCol),
      hits.cast(LongType).as("h"), size(tk).cast(LongType).as("n"))
    val perDomain = perDoc.groupBy(col(domainCol))
      .agg(sum(col("h")).as("domain_hits"), sum(col("n")).as("domain_tokens"))
    val total = perDomain.agg(sum(col("domain_hits")).as("corpus_hits"),
      sum(col("domain_tokens")).as("corpus_tokens"))
    def d19(c: Column): Column = c.cast(DecimalType(19, 0))
    val kept = perDomain.crossJoin(broadcast(total))
      .where(d19(col("domain_hits")) * d19(col("corpus_tokens")) >=
        d19(col("corpus_hits")) * d19(col("domain_tokens")))
      .select(col(domainCol), col("domain_hits"), col("domain_tokens"))
    docs.join(broadcast(kept), Seq(domainCol))
  }

  /** SPAN-level decontamination with REMOVAL (the C4 move: drop any
    * three-sentence span that also appears in the evaluation data,
    * keep the rest of the document) — the surgical sibling of
    * [[decontaminate]]'s whole-document flagging. Inputs are
    * (doc_id, pos, line) relations for the corpus and the benchmark;
    * a corpus line is removed iff it sits inside any `span`-line
    * window whose joined text equals a benchmark span. Documents are
    * reassembled from the surviving lines.
    *
    * Scale shape: spans build from per-document lead() windows
    * (bounded by one document's lines), the contamination test is one
    * join on the 8-byte span hash, and the removal set explodes each
    * contaminated span into its `span` member positions — never a
    * range join. */
  def spanScrub(lines: DataFrame, benchLines: DataFrame, span: Int = 3,
                idCol: String = "doc_id", posCol: String = "pos",
                lineCol: String = "line"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def spansOf(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col(idCol)).orderBy(col(posCol))
      val leads = (1 until span).map(i => lead(col(lineCol), i).over(w))
      df.select(col(idCol).as("doc_id"), col(posCol).as("start"),
          concat_ws(" ", col(lineCol) +: leads: _*).as("txt"),
          leads.last.isNotNull.as("full"))
        .where(col("full"))
        .select(col("doc_id"), col("start"), xxhash64(col("txt")).as("sh"))
    }
    val benchSpans = spansOf(benchLines).select(col("sh")).distinct()
    val removalPos = spansOf(lines)
      .join(benchSpans, Seq("sh"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (span - 1))).as("pos"))
      .distinct()
    val flagged = lines
      .select(col(idCol).as("doc_id"), col(posCol).as("pos"), col(lineCol).as("line"))
      .join(removalPos.withColumn("rm", lit(true)), Seq("doc_id", "pos"), "left")
    flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("rm"), 1)).as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("rm").isNull, struct(col("pos"), col("line"))))),
          s => s.getField("line"))).as("text"))
  }

  /** Quantile-based quality filter: keep the top `keep` fraction of
    * each stratum by stopword-density score, EXACTLY as
    * `percent_rank() OVER (PARTITION BY stratum ORDER BY score)` would
    * — but without ever sorting a whole stratum in one task (at 100 TB
    * the dominant language IS most of the corpus; a per-stratum window
    * sort is a single-task straggler).
    *
    * Two-pass construction. percent_rank is (rank-1)/(n-1), and with
    * ascending ties sharing a rank, rank-1 is exactly the count of
    * rows in the stratum with a strictly smaller score. That count is
    * a function of the score VALUE alone, so pass 1 builds a
    * per-stratum score histogram (a partial-aggregated shuffle of
    * distinct (stratum, score) pairs — scores are rationals
    * hits/n_tokens, so the histogram is bounded by distinct rational
    * values, orders of magnitude below row count), derives each
    * score's exact percent_rank with a window OVER THE HISTOGRAM, and
    * pass 2 broadcast-joins the surviving (stratum, score, pr) rows
    * back onto the corpus. Same IEEE doubles, same tie behavior, zero
    * document-scale sort — the DuckDB twin keeps the naive
    * percent_rank formulation, so the hash match proves equivalence.
    *
    * Scores from identical (hits, n_tokens) pairs are bit-identical
    * doubles, so the equi-join on score is exact; all-whitespace texts
    * (0/0 = NULL score) do not occur in corpus data and would drop
    * here rather than rank. */
  def qualityQuantileFilter(docs: DataFrame, keep: Double = 0.5,
                            strataCol: String = "lang", textCol: String = "text",
                            idCol: String = "doc_id",
                            sizeHint: Option[Long] = None,
                            cutover: Long = TotalOrder.WindowCutover): DataFrame = {
    val tk = TextOps.rawTokens(col(textCol))
    val hits = size(filter(tk, t =>
      array_contains(array(AllStopwords.map(lit): _*), lower(t))))
    val score = hits.cast(LongType) / size(tk).cast(LongType)
    quantileFilterByScore(docs.withColumn("score", score), keep, strataCol, sizeHint, cutover)
  }

  /** (strata*, score, pr) for every distinct score value — the shared
    * percent-rank-by-value relation behind [[quantileFilterByScore]]
    * and [[curriculumShards]]. pr is exactly
    * `percent_rank() OVER (PARTITION BY strata ORDER BY score)`
    * evaluated per VALUE — cnt_below/(n−1) in Long counts and one
    * double division — so both branches below are bit-identical to the
    * window form (CorpusSpec proves branch equality).
    *
    * The branch (VERDICT r13 #2 — the continuous-score regime): with
    * MODEL scores (avg log-prob, PageRank, llr) distinct-score
    * cardinality ≈ corpus size, so a per-stratum window over the
    * histogram is a single-task sort of ~N rows and broadcasting its
    * survivors is a driver OOM. `small` keys on the SOURCE row count —
    * a strict upper bound on distinct-score cardinality, one cheap job
    * (or free via the caller's sizeHint), the [[Profiling.skewReport]]
    * device. BELOW the cutover: the fused per-strata window over the
    * histogram, the measured-fastest shape at fixture scale (the r13
    * skew_report episode: bounded operators' fixed costs run 7-10x a
    * fused window on vocabulary-sized relations). ABOVE it: TeraSort
    * prefix sums ([[TotalOrder.prefixSum]]) over (strata, score) plus
    * a strata-count-sized offset broadcast — no unpartitioned window
    * ever sees the score-scale relation, and the histogram is pinned
    * once so its corpus scan + shuffle never reruns per consumer. */
  private[graft] def scoreRanksByValue(scored: DataFrame, strata: Seq[String],
                                       small: Boolean,
                                       cutover: Long = TotalOrder.WindowCutover): DataFrame = {
    val sc = strata.map(col)
    val hist0 = scored.groupBy(sc :+ col("score"): _*).agg(count(lit(1)).as("cnt"))
    val ranked =
      if (small) {
        val below = Window.partitionBy(sc: _*).orderBy(col("score"))
          .rowsBetween(Window.unboundedPreceding, -1)
        hist0
          .withColumn("cnt_below", coalesce(sum(col("cnt")).over(below), lit(0L)))
          .withColumn("n", sum(col("cnt")).over(Window.partitionBy(sc: _*)))
          // stale-hint tripwire (r14 review): this fused branch is only
          // legal when the source fits one task, and a caller-supplied
          // hint is trusted, not verified — so the already-computed
          // per-stratum row count doubles as the check, failing LOUD
          // in-plan (zero extra jobs) instead of dying slowly inside a
          // single-task sort. Per-stratum bound: the dominant-stratum
          // regime — the actual scale-killer — always trips it. With
          // the unhinted pin-and-count path, or at true fixture sizes,
          // n <= cutover by construction, so no hash can move.
          .withColumn("n", when(col("n") > cutover,
            raise_error(concat(
              lit("scoreRanksByValue: fused window branch picked by a stale size " +
                "hint - stratum row count "), col("n").cast(StringType),
              lit(s" exceeds WindowCutover $cutover; pass a correct sizeHint or none")))
              .cast(LongType))
            .otherwise(col("n")))
      } else {
        val hist = graft.plans.Lineage.truncate(hist0)
        val run = TotalOrder.prefixSum(hist, sc :+ col("score"), Seq(("cnt", "__run")))
        // per-strata totals and cumulative start offsets: a
        // strata-count-sized relation, so ITS window is over dozens of
        // rows; the null-safe join keeps a NULL stratum grouped exactly
        // as the window branch groups it
        val offs = {
          val tot = hist.groupBy(sc: _*).agg(sum(col("cnt")).as("n"))
          if (strata.isEmpty) tot.withColumn("__off", lit(0L))
          else tot.withColumn("__off", coalesce(
            sum(col("n")).over(
              Window.orderBy(sc: _*).rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        }
        val offsR = offs.select(
          strata.map(c => col(c).as(s"__s_$c")) ++ Seq(col("n"), col("__off")): _*)
        val joined =
          if (strata.isEmpty) run.crossJoin(broadcast(offsR))
          else run.join(broadcast(offsR),
            strata.map(c => col(c) <=> col(s"__s_$c")).reduce(_ && _))
        joined.withColumn("cnt_below", col("__run") - col("cnt") - col("__off"))
      }
    ranked
      .withColumn("pr", when(col("n") === 1L, lit(0.0))
        .otherwise(col("cnt_below").cast(DoubleType) / (col("n") - 1L).cast(DoubleType)))
      .select(sc :+ col("score") :+ col("pr"): _*)
  }

  /** The histogram-two-pass quantile filter over a CALLER-SUPPLIED
    * `score` column — the seam that lets MODEL-based scores (the
    * unigram/bigram/trigram LM scorers) drive the same exact
    * percent_rank cut the heuristic filter uses. `scored` must carry
    * `score`; every input column passes through with score + pr
    * appended.
    *
    * Pass 1 builds the per-stratum percent-rank-by-value relation
    * ([[scoreRanksByValue]] — adaptive: fused histogram window below
    * the cutover, TeraSort prefix sums above). Pass 2 joins the
    * surviving scores back: broadcast below the cutover; above it the
    * broadcast would be ~keep·N rows of a continuous score, so the
    * corpus is instead pre-filtered by a per-stratum THRESHOLD score —
    * survival is monotone in score within a stratum (cnt_below is
    * nondecreasing), so `score >= min(surviving score)` keeps exactly
    * the surviving rows off a strata-count-sized broadcast — and one
    * distributed equi-join on (stratum, score) attaches each
    * survivor's exact pr. `sizeHint`, when the caller already knows an
    * upper bound on the row count (catalog stat, manifest), skips the
    * branch-decision count job; a wrong hint can only mispick the plan
    * shape, never change values (both branches are value-identical). */
  def quantileFilterByScore(scored0: DataFrame, keep: Double = 0.5,
                            strataCol: String = "lang",
                            sizeHint: Option[Long] = None,
                            cutover: Long = TotalOrder.WindowCutover): DataFrame = {
    val (scored, small) = sizeOrPin(scored0, sizeHint, cutover)
    val ranks0 = scoreRanksByValue(scored, Seq(strataCol), small, cutover)
      .where(col("pr") >= 1.0 - keep)
    val passthrough = scored.columns.filter(_ != "score").map(col).toSeq
    val out =
      if (small) scored.join(broadcast(ranks0), Seq(strataCol, "score"))
      else {
        val ranks = graft.plans.Lineage.truncate(ranks0)
        val cuts = ranks.groupBy(col(strataCol)).agg(min(col("score")).as("__cut"))
        scored.join(broadcast(cuts), Seq(strataCol))
          .where(col("score") >= col("__cut")).drop("__cut")
          .join(ranks, Seq(strataCol, "score"))
      }
    out.select(passthrough :+ col("score") :+ col("pr"): _*)
  }

  /** CCNet-style quantile bucketing on a caller-supplied score — the
    * head/middle/tail split (Wenzek et al. 2020: per-language LM
    * perplexity TERCILES decide keep / rework / drop) as the general
    * n-bucket sibling of [[quantileFilterByScore]]: every row gets
    * bucket = min(nBuckets−1, floor(pr·nBuckets)) from the same exact
    * percent-rank-by-value relation. VALUE-based on purpose: tied
    * scores land in ONE bucket, where ntile's row-count split would
    * tear ties apart by physical order and could never hash-match
    * across engines. Output: every input column + score + pr + bucket
    * (0 = tail … nBuckets−1 = head). Same adaptive scale shape and
    * hint/pin discipline as the filter ([[scoreRanksByValue]]). */
  def scoreBuckets(scored0: DataFrame, nBuckets: Int = 3,
                   strataCol: String = "lang",
                   sizeHint: Option[Long] = None,
                   cutover: Long = TotalOrder.WindowCutover): DataFrame = {
    require(nBuckets > 0, "scoreBuckets needs nBuckets > 0")
    val (scored, small) = sizeOrPin(scored0, sizeHint, cutover)
    val ranks0 = scoreRanksByValue(scored, Seq(strataCol), small, cutover)
      .withColumn("bucket",
        least(lit((nBuckets - 1).toLong), floor(col("pr") * nBuckets).cast(LongType)))
    val passthrough = scored.columns.filter(_ != "score").map(col).toSeq
    // single consumer of ranks0 — no pin needed beyond the one
    // scoreRanksByValue already placed on the histogram
    val out =
      if (small) scored.join(broadcast(ranks0), Seq(strataCol, "score"))
      else scored.join(ranks0, Seq(strataCol, "score"))
    out.select(passthrough ++ Seq(col("score"), col("pr"), col("bucket")): _*)
  }

  /** Cross-source quantile normalization — the score-calibration move
    * when per-source quality scores aren't comparable (source A's
    * "80" may be source B's "40"): each row's within-source rank maps
    * to the GLOBAL score at the same quantile, so downstream
    * thresholds cut every source at the same calibrated level.
    *
    * Exactness: the textbook percent_rank → interpolate path drags
    * floats through the hash; here the target global rank is PURE
    * integer arithmetic — rt = (rs−1)·(N−1) div (ns−1) + 1 — and the
    * normalized score is a real data value picked by rank. Singleton
    * sources map to the global minimum (rank 1).
    *
    * Scale shape: one per-source rank window, one RANGE-PARTITIONED
    * global rank (`TotalOrder.globalRank` — the TeraSort exchange, so
    * no single-task sort ever sees the row-scale relation), one
    * broadcast scalar and one equi-join on the target rank. */
  def quantileNormalize(docs: DataFrame, scoreCol: String = "n_chars",
                        groupCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(groupCol).as("grp"),
      col(scoreCol).cast("long").as("score"))
    val perSource = base
      .withColumn("rs", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("score"), col("doc_id"))).cast("long"))
      .withColumn("ns", count(lit(1)).over(Window.partitionBy(col("grp"))))
    val globalRanked = TotalOrder
      .globalRank(base, Seq(col("score"), col("doc_id")), rankCol = "rg")
      .select(col("rg").as("rt"), col("score").as("norm_score"))
    val ng = base.agg(count(lit(1)).as("ng"))
    perSource.crossJoin(broadcast(ng))
      .withColumn("rt", when(col("ns") === 1, lit(1L))
        .otherwise(expr("((rs - 1) * (ng - 1)) div (ns - 1)") + 1))
      .join(globalRanked, "rt")
      .select(col("doc_id"), col("grp").as(groupCol), col("score"), col("norm_score"))
  }

  /** Deterministic content-keyed train/val/test assignment — the
    * split that survives re-crawls: a document's split follows its
    * TEXT (hashPermille), so regenerating the corpus, adding sources
    * or re-partitioning can never leak yesterday's val doc into
    * today's train set, which is exactly what a rand()- or
    * row-number-based split does. Narrow, shuffle-free, one scan.
    * Exact duplicates land in the same split by construction — dedup
    * before splitting if cross-split twins matter. */
  def datasetSplit(docs: DataFrame, trainPermille: Int = 800, valPermille: Int = 100,
                   textCol: String = "text"): DataFrame = {
    require(trainPermille + valPermille <= 1000, "train+val must fit in 1000 permille")
    docs
      .withColumn("__h", hashPermille(col(textCol)))
      .withColumn("split",
        when(col("__h") < trainPermille, lit("train"))
          .when(col("__h") < trainPermille + valPermille, lit("val"))
          .otherwise(lit("test")))
      .drop("__h")
  }

  /** Split-leakage audit — the QA step AFTER [[datasetSplit]]: for
    * every val/test document, how many of its distinct w-gram
    * shingles also appear anywhere in the train split. The
    * content-hash split guarantees EXACT duplicates land together,
    * but near-duplicates (a re-hosted copy with one edited line, a
    * doc sharing a boilerplate paragraph) hash to different permille
    * buckets and straddle the boundary — precisely the leakage an
    * eval score silently absorbs. This is [[decontaminate]] turned
    * inward: benchmark = the held-out splits, corpus = train.
    *
    * Scale shape: both sides reduce to 64-bit shingle ids
    * (Dedup.shingleIds), so the only shuffle moves 8-byte keys; the
    * train-shingle distinct reuses the same hash partitioning the
    * overlap join needs. The held-out side is 1000−trainPermille
    * permille of the corpus — the audit costs one dedup-scale join,
    * not a quadratic pass. Output: every held-out doc with its split,
    * overlap count, and the `leaked` verdict at `minOverlap`. */
  def splitLeakageAudit(docs: DataFrame, w: Int = 3, minOverlap: Int = 2,
                        trainPermille: Int = 800, valPermille: Int = 100,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sp = datasetSplit(docs, trainPermille, valPermille, textCol)
    val trainSh = Dedup.shingleIds(sp.filter(col("split") === "train"), w, textCol, idCol)
      .select(col("sh")).distinct()
    val heldOut = sp.filter(col("split") =!= "train")
    val overlap = Dedup.shingleIds(heldOut, w, textCol, idCol)
      .join(trainSh, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_train_overlap"))
    heldOut.select(col(idCol).as("doc_id"), col("split"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("n_train_overlap"), lit(0L)).as("n_train_overlap"),
        (coalesce(col("n_train_overlap"), lit(0L)) >= minOverlap).as("leaked"))
  }

  /** Rendezvous (highest-random-weight) sharding (Thaler &
    * Ravishankar, "Using Name-Based Mappings to Increase Hit Rates",
    * IEEE/ACM ToN 1998): a doc lands on argmax over shards of
    * h(doc, shard). The property mod-N sharding cannot give: growing
    * n → n+1 shards moves ONLY the docs whose hash against the NEW
    * shard wins — expected 1/(n+1) of the corpus, and every mover
    * goes TO the new shard — where `hash(doc) % n` reshuffles
    * (n−1)/n of everything. That is the difference between an
    * incremental shard split and a full dataset rewrite at 100 TB.
    * h is the 40-bit md5 prefix of "docId:shard" (the winnowing
    * device — engine-exact via conv/HexInt40); the argmax is one
    * array_max over n (h, s) structs per row — narrow, zero shuffle. */
  def rendezvousShard(docs: DataFrame, nShards: Int, outCol: String = "shard",
                      idCol: String = "doc_id"): DataFrame = {
    require(nShards > 0, "rendezvousShard needs nShards > 0")
    val picks = transform(sequence(lit(0), lit(nShards - 1)),
      s => struct(
        conv(substring(md5(concat(col(idCol).cast(StringType), lit(":"),
          s.cast(StringType))), 1, 10), 16, 10).cast(LongType).as("h"),
        s.cast(LongType).as("s")))
    docs.withColumn(outCol, array_max(picks).getField("s"))
  }

  /** Length-bucketed batching plan — the dynamic-batching planner: a
    * trainer that pads every sequence to one global max burns
    * (max − len) pad tokens per doc; bucketing by length first (the
    * standard bucketed-batching move) pads only to each bucket's own
    * max. This emits the plan AND its exact cost: `nBuckets`
    * equal-population length buckets (the equidepth_bins device —
    * `TotalOrder.globalNtile`, a range exchange + bucket arithmetic,
    * never a single-task sort), per bucket the boundaries, doc count,
    * real token mass, pad tokens at the bucket max, the floor-ppm pad
    * share, and the naive global-max pad cost for comparison. All
    * exact integer arithmetic off whitespace token counts. */
  def lengthBucketPlan(docs: DataFrame, nBuckets: Int = 8,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tc = docs.select(col(idCol).as("doc_id"),
      size(TextOps.rawTokens(col(textCol))).cast(LongType).as("n_toks"))
    val binned = TotalOrder.globalNtile(tc,
      Seq(col("n_toks").asc, col("doc_id").asc), nBuckets, "bucket")
    val global = tc.agg(max(col("n_toks")).as("gmax"))
    binned.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_toks")).as("min_len"), max(col("n_toks")).as("max_len"),
        sum(col("n_toks")).as("sum_tokens"))
      .crossJoin(broadcast(global))
      .select(col("bucket"), col("n_docs"), col("min_len"), col("max_len"),
        col("sum_tokens"),
        (col("n_docs") * col("max_len") - col("sum_tokens")).as("pad_tokens"),
        floor((col("n_docs") * col("max_len") - col("sum_tokens")) * lit(1000000L)
          / (col("n_docs") * col("max_len"))).as("pad_ppm"),
        (col("n_docs") * col("gmax") - col("sum_tokens")).as("naive_pad_tokens"))
  }

  /** The (lang, source, n_toks)-grain counters CUBE every dataset-card
    * number except the distinct-text count derives from: per-cell doc
    * count, char sum and Gopher-gate pass count. Splitting the card
    * into cube → finish is what makes it streamable — a micro-batch
    * commits only its batch-local cube delta (histogram-sized state:
    * langs × sources × distinct doc lengths, never rows), batch deltas
    * merge by re-aggregation, and the finish below recomputes the card
    * from any union of deltas. */
  def datasetCardCube(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
        size(TextOps.rawTokens(col("text"))).cast(LongType).as("n_toks"),
        length(col("text")).cast(LongType).as("n_chars"))
      .join(TextQuality.gopherQualityGate(docs).select(col("doc_id"), col("keep")), "doc_id")
      .groupBy(col("lang"), col("source"), col("n_toks"))
      .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("chars"),
        sum(when(col("keep"), lit(1L)).otherwise(lit(0L))).as("n_pass"))

  /** The release-artifact finish over an already-built cube: ONE row
    * with doc/lang/source counts, floor-ppm top-language share,
    * token/char totals, the nearest-rank median doc length read off
    * the cube's length histogram (no corpus sort — the global window
    * runs on the histogram relation), exact-dup pressure from the
    * supplied distinct count, and the Gopher pass rate. `nDistinct`
    * is a one-row (n_distinct) relation — countDistinct in batch, the
    * digest store's row count when streamed. */
  def datasetCardFromCube(cube: DataFrame, nDistinct: DataFrame): DataFrame = {
    val base = cube.agg(
      sum(col("cnt")).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      sum(col("n_toks") * col("cnt")).as("n_tokens"),
      sum(col("chars")).as("n_chars"),
      sum(col("n_pass")).as("n_pass"))
    val topl = cube.groupBy(col("lang")).agg(sum(col("cnt")).as("c"))
      .orderBy(desc("c"), asc("lang")).limit(1)
      .select(col("lang").as("top_lang"), col("c").as("top_lang_docs"))
    val hist = cube.groupBy(col("n_toks")).agg(sum(col("cnt")).as("cnt"))
    val hh = hist.withColumn("cnt_below",
      coalesce(sum(col("cnt")).over(
        Window.orderBy(col("n_toks")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val p50 = hh.crossJoin(broadcast(base.select(col("n_docs").as("nd"))))
      .where(col("cnt_below") < ceil(col("nd") * lit(0.5)).cast(LongType) &&
        col("cnt_below") + col("cnt") >= ceil(col("nd") * lit(0.5)).cast(LongType))
      .agg(min(col("n_toks")).as("p50_doc_tokens"))
    base.crossJoin(broadcast(topl)).crossJoin(broadcast(p50)).crossJoin(broadcast(nDistinct))
      .select(col("n_docs"), col("n_langs"), col("n_sources"), col("top_lang"),
        floor(col("top_lang_docs") * lit(1000000L) / col("n_docs")).as("top_lang_ppm"),
        col("n_tokens"), col("n_chars"), col("p50_doc_tokens"),
        floor((col("n_docs") - col("n_distinct")) * lit(1000000L) / col("n_docs")).as("dup_ppm"),
        floor(col("n_pass") * lit(1000000L) / col("n_docs")).as("gopher_pass_ppm"))
  }

  /** The one-shot batch dataset card: cube + exact distinct count →
    * finish. Two corpus scans at any scale (cube + distinct), every
    * sub-relation an aggregate. */
  def datasetCard(docs: DataFrame): DataFrame =
    datasetCardFromCube(datasetCardCube(docs),
      docs.agg(countDistinct(sha2(col("text"), 256)).as("n_distinct")))

  /** Pareto-frontier (skyline) curation: the rows no other row beats
    * on EVERY objective at once — multi-criteria selection without
    * inventing a weighted blend (Börzsönyi et al., "The Skyline
    * Operator", ICDE 2001). Corpus use: pick documents on the
    * quality-vs-length / diversity-vs-size frontier instead of a
    * single scalar score that hides the trade-off.
    *
    * `dims` maps column name → true to maximize / false to minimize;
    * B dominates A iff B is >= A on every oriented dim and > on at
    * least one. Ties on ALL dims dominate nothing, so duplicated
    * frontier points all survive.
    *
    * Scale shape (the 100 TB posture): a naive skyline is an O(n²)
    * self-join, unrunnable at scale. This runs the sample-prune-exact
    * ladder instead:
    *  1. a deterministic hash sample (~1/64) computes ITS OWN skyline
    *     with a broadcast nested-loop anti-join (sample², tiny);
    *  2. the full table anti-joins against the BROADCAST sample
    *     skyline — one scan, no shuffle, and every row strictly
    *     dominated by a sample-frontier point dies here. A true
    *     frontier point is dominated by nothing, so this prune is
    *     lossless;
    *  3. the exact pairwise anti-join runs only on the survivors —
    *     the frontier plus its undominated band, orders of magnitude
    *     smaller than n for any correlated data.
    * Worst case (perfectly anti-correlated dims, frontier ≈ n) no
    * algorithm avoids the quadratic check; the ladder then degrades
    * to the naive join instead of failing. */
  def paretoFrontier(df: DataFrame, dims: Seq[(String, Boolean)],
                     idCol: String = "doc_id", sampleMod: Int = 64): DataFrame = {
    require(dims.nonEmpty, "paretoFrontier needs at least one dimension")
    def dominates(q: String, p: String): Column = {
      val allGe = dims.map { case (c, maxi) =>
        if (maxi) col(s"$q.$c") >= col(s"$p.$c") else col(s"$q.$c") <= col(s"$p.$c")
      }.reduce(_ && _)
      val anyGt = dims.map { case (c, maxi) =>
        if (maxi) col(s"$q.$c") > col(s"$p.$c") else col(s"$q.$c") < col(s"$p.$c")
      }.reduce(_ || _)
      allGe && anyGt
    }
    def antiDominate(points: DataFrame, against: DataFrame): DataFrame =
      points.as("p").join(against.as("q"), dominates("q", "p"), "left_anti")
        .select(col("p.*"))
    val cols = col(idCol) +: dims.map { case (c, _) => col(c) }
    val pts = df.select(cols: _*)
    val sample = pts.where(pmod(xxhash64(col(idCol)), lit(sampleMod)) === 0)
    val sampleSky = antiDominate(sample, broadcast(sample))
    val pruned = antiDominate(pts, broadcast(sampleSky)).truncateLineage
    antiDominate(pruned, pruned)
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al.,
    * NeurIPS 2023, arXiv:2302.03169): score every pool document by how
    * much its token distribution looks like a TARGET domain,
    *
    *   log w(x) = Σ_tokens [ ln p_target(w) − ln p_pool(w) ]
    *
    * under add-1-smoothed unigram models of each side (shared vocab =
    * the union), and keep the top `keepPermille`/1000 of the pool by
    * weight. The paper hashes n-grams into ~10⁴ buckets purely to
    * bound model size — the same join keyed on xxhash64(word) % m;
    * exact word identity is used here so the whole selection sits
    * behind the oracle hash gate, and the m-bounded hashed variant is
    * registered alongside it as [[dsirSelectHashed]] (identical
    * scoring and selection math, bucket-keyed model).
    * Selection is deterministic top-fraction with a doc_id tie-break
    * (the reproducible-build stand-in for the paper's Gumbel
    * resampling), ranked on the EXACT DECIMAL weight (never the
    * rounded display value) via TotalOrder.globalRankAuto, so a
    * billion-doc pool never hits a single-task ORDER BY.
    *
    * Exactness (the unigramLogProb device): each vocabulary word's
    * Δ = round(ln p_t, 12) − round(ln p_p, 12) is two identical
    * one-division lns rounded to 12 dp and subtracted as DECIMALs;
    * per-doc accumulation is a DECIMAL sum — order can never wiggle
    * the hash. Scale shape: two vocab aggregates (word-keyed shuffle,
    * zipfian skew = the AQE case), one broadcast of the 3-number
    * sizes row, one word join into a per-doc hash aggregate, one
    * range-partitioned rank. Pool docs with zero clean words are
    * absent from the output (the truncateToTokenBudget posture; the
    * twin mirrors the omission).
    *
    * Output: (doc_id, n_tokens, dsir_logw rounded(6), selected). */
  def dsirSelect(pool: DataFrame, target: DataFrame, keepPermille: Int = 250,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    dsirRank(dsirScore(pool, dsirModel(pool, target, textCol, idCol),
      textCol, idCol), keepPermille)

  /** [[dsirSelect]] under the paper's actual memory bound: the model is
    * keyed on xxhash64(word) mod `m` instead of exact word identity, so
    * the Δ relation — and therefore the broadcast the scorer ships to
    * every executor — is AT MOST m rows no matter how large the union
    * vocabulary grows. This is the swap-in [[dsirScore]]'s scaladoc
    * promises for the 100 TB pool, registered as its own query: a
    * union-vocab model does not broadcast at corpus scale, an m-bucket
    * one always does. Scoring and selection math are unchanged (same
    * add-1 smoothing, DECIMAL accumulation, exact-rank cut); only the
    * conditioning event coarsens from "this word" to "this bucket", and
    * the smoothing denominator counts OCCUPIED buckets, so in the
    * collision-free limit (m → ∞) the scores — not just the selection —
    * reproduce [[dsirSelect]] exactly (DsirSpec pins both the m-bound
    * and the limit). */
  def dsirSelectHashed(pool: DataFrame, target: DataFrame, m: Long = 65536,
                       keepPermille: Int = 250, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame =
    dsirRank(dsirScoreKeyed(dsirBuckets(pool, m, textCol, idCol),
      dsirModelHashed(pool, target, m, textCol, idCol), "bucket"), keepPermille)

  /** The shared deterministic top-fraction cut: exact-DECIMAL global
    * rank (TotalOrder, never a single-task ORDER BY), integer-ceil
    * keep count. */
  private def dsirRank(scored: DataFrame, keepPermille: Int): DataFrame = {
    require(keepPermille >= 0 && keepPermille <= 1000,
      s"keepPermille=$keepPermille must be in [0, 1000]")
    val ranked = TotalOrder.globalRankAuto(scored, Seq(desc("sl"), asc("doc_id")),
      rankCol = "__rk")
    val n = ranked.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sl").cast(DoubleType), 6).as("dsir_logw"),
        (col("__rk") <= expr(s"(__n * $keepPermille + 999) div 1000")).as("selected"))
  }

  /** The frozen importance model behind [[dsirSelect]] — the per-word
    * Δ = ln p_target(w) − ln p_pool(w) relation under add-1-smoothed
    * unigram models over the union vocabulary. Exposed on its own so
    * the STREAMING scorer can train it once and broadcast it against
    * a firehose (the production posture: retrain on drift, never per
    * batch). Vocab-sized — the only corpus-scale work is the two word
    * aggregates behind it. */
  def dsirModel(pool: DataFrame, target: DataFrame,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    dsirModelKeyed(TextOps.docWords(pool, textCol, idCol),
      TextOps.docWords(target, textCol, idCol), "word")

  /** [[dsirModel]] under the hashed memory bound: identical smoothing
    * and Δ arithmetic, keyed on xxhash64(word) mod `m` — AT MOST m
    * rows (only occupied buckets are materialized; empty buckets score
    * the same oov_delta floor through the scorer's left join, exactly
    * like unseen words in the exact model). The smoothing "vocabulary
    * size" is the occupied-bucket count, so a collision-free hash
    * (m → ∞) makes every bucket a singleton word and the model
    * row-identical to the exact one. */
  def dsirModelHashed(pool: DataFrame, target: DataFrame, m: Long = 65536,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(m > 0, s"m=$m must be positive")
    dsirModelKeyed(dsirBuckets(pool, m, textCol, idCol),
      dsirBuckets(target, m, textCol, idCol), "bucket")
  }

  /** The per-doc hashed token→bucket relation: the [[TextOps.docWords]]
    * stream with each clean word collapsed to xxhash64(word) mod m. */
  private def dsirBuckets(df: DataFrame, m: Long, textCol: String, idCol: String) =
    TextOps.docWords(df, textCol, idCol)
      .select(col("doc_id"), pmod(xxhash64(col("word")), lit(m)).as("bucket"))

  /** The model body shared by the exact and hashed variants: add-1
    * unigram models of each side over the union key set, per-key
    * Δ = round(ln p_t, 12) − round(ln p_p, 12) as DECIMALs. `poolKeys`
    * / `targetKeys`: (doc_id, keyCol) token streams. */
  private def dsirModelKeyed(poolKeys: DataFrame, targetKeys: DataFrame,
                             keyCol: String): DataFrame = {
    // both count relations feed two consumers (vocab join + sizes):
    // pin the vocab-sized relations once, never the token streams
    val pc = poolKeys
      .groupBy(col(keyCol)).agg(count(lit(1)).as("pc")).truncateLineage
    val tc = targetKeys
      .groupBy(col(keyCol)).agg(count(lit(1)).as("tc")).truncateLineage
    val vocab = pc.select(col(keyCol)).unionAll(tc.select(col(keyCol))).distinct()
      .join(pc, Seq(keyCol), "left").join(tc, Seq(keyCol), "left")
      .select(col(keyCol), coalesce(col("pc"), lit(0L)).as("pc"),
        coalesce(col("tc"), lit(0L)).as("tc"))
      .truncateLineage
    val sizes = vocab.agg(sum(col("pc")).as("np"), sum(col("tc")).as("nt"),
      count(lit(1)).as("v"))
    def lnP(cnt: Column, n: Column, v: Column) =
      round(log((cnt + 1).cast(DoubleType) / (n + v).cast(DoubleType)), 12)
        .cast(DecimalType(28, 12))
    // oov_delta = the add-1 floor both models assign an unseen key
    // (count 0 on each side) — a constant, carried on every model row
    // so the scorer needs no second relation
    vocab.crossJoin(broadcast(sizes))
      .select(col(keyCol),
        (lnP(col("tc"), col("nt"), col("v")) - lnP(col("pc"), col("np"), col("v")))
          .as("delta"),
        (lnP(lit(0L), col("nt"), col("v")) - lnP(lit(0L), col("np"), col("v")))
          .as("oov_delta"))
  }

  /** Score documents against a frozen [[dsirModel]]: per-doc DECIMAL
    * sum of the broadcast Δ table over the doc's clean words —
    * (doc_id, n_tokens, sl), where sl is the EXACT decimal log weight.
    * Depends only on each doc's own words + the frozen model, so the
    * result is batch-partitioning-invariant: a stream draining through
    * this per micro-batch converges to the one-shot batch score
    * exactly. Out-of-vocabulary words (a real firehose WILL carry
    * them — the frozen model was trained yesterday) score the add-1
    * floor Δ both smoothed models assign an unseen word, not a silent
    * drop: a left join + coalesce against the model's constant
    * `oov_delta` column. On vocab-covered corpora (the registered
    * fixtures train on the scored pool) the two paths are
    * row-identical. Documents with zero clean words are absent from
    * the output — the engine-wide word-relation contract
    * (truncateToTokenBudget posture); the twin mirrors the
    * omission. */
  def dsirScore(docs: DataFrame, model: DataFrame,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    dsirScoreKeyed(TextOps.docWords(docs, textCol, idCol), model, "word")

  /** Score documents against a frozen [[dsirModelHashed]]: the same
    * per-doc DECIMAL fold, but the broadcast relation is m-bounded —
    * the shape that survives a vocabulary the exact model cannot
    * ship. `m` must match the model's. */
  def dsirScoreHashed(docs: DataFrame, model: DataFrame, m: Long = 65536,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    dsirScoreKeyed(dsirBuckets(docs, m, textCol, idCol), model, "bucket")

  private def dsirScoreKeyed(docKeys: DataFrame, model: DataFrame,
                             keyCol: String): DataFrame = {
    val oov = model.agg(max(col("oov_delta")).as("oov"))
    docKeys
      .join(broadcast(model.select(col(keyCol), col("delta"))), Seq(keyCol), "left")
      .crossJoin(broadcast(oov))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("delta"), col("oov"))).as("sl"))
  }
}
