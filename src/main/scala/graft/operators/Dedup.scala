package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.Lineage.TruncateOps
import org.apache.spark.sql.types._

/** Document deduplication for large-scale training-data pipelines:
  * exact (group-by / content-hash), n-gram Jaccard, MinHash+LSH
  * (Broder 1997-style signatures, banded for candidate generation) and
  * SimHash (Charikar 2002). No reference analog (SURVEY.md §2.11) —
  * these are the north-star extensions, built shuffle-aware:
  *
  * At 100 TB: exact dedup is one hash shuffle on the digest (never on
  * the raw text — group by sha2, not by the document body). MinHash
  * signatures are one shuffle of (doc, shingle-hash) pairs; LSH banding
  * then shuffles only (band-key, doc_id) — candidates are verified
  * pair-locally, so the quadratic all-pairs join never materializes.
  * Band-bucket skew (a hot bucket = a boilerplate cluster) is the one
  * skew point; AQE skew-join handles it, salting is the fallback
  * (SURVEY.md §7.4).
  */
object Dedup {

  /** Exact duplicate groups keyed by raw content: canonical (minimum)
    * id and multiplicity per distinct text. */
  def exactGroups(docs: DataFrame, keyCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Exact dedup via content digest — at scale the digest (32B) shuffles
    * instead of the document body. */
  def hashGroups(docs: DataFrame, keyCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(sha2(col(keyCol), 256).as("h"), col(idCol))
      .groupBy(col("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup — the ingest-time form of [[hashGroups]]:
    * dedup a new batch WITHIN itself (canonical minimum id per
    * digest), then drop everything whose digest already exists in the
    * persisted corpus digest store. Returns the surviving (h, doc_id)
    * pairs; the caller unions them into the store to complete the
    * ingest cycle.
    *
    * Scale shape: the store side is digests only (32 B/doc — the
    * 100 TB corpus's store is ~3 orders of magnitude smaller than the
    * corpus), the batch reduces to digests before the anti-join, and
    * both sides shuffle on the digest key. */
  def incrementalDigestDedup(batch: DataFrame, storeDigests: DataFrame,
                             textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    batch
      .select(sha2(col(textCol), 256).as("h"), col(idCol))
      .groupBy(col("h")).agg(min(col(idCol)).as(idCol))
      .join(storeDigests.select(col("h")).distinct(), Seq("h"), "left_anti")

  /** Cross-corpus PARAGRAPH-frequency dedup (the MassiveText /
    * Gopher-class "remove duplicated paragraphs" stage, Rae et al.
    * 2021 — public): a paragraph that occurs in more than `maxDf`
    * distinct documents is boilerplate (cookie banners, subscribe
    * prompts, legal footers — link-FREE chrome the per-page density
    * heuristic cannot see) and is dropped from every document; each
    * document is reassembled from its surviving paragraphs in
    * original order.
    *
    * Input is (idCol, posCol, paraCol) rows — e.g.
    * [[Html.extractBlocks]] output. Returns per document: `n_paras`,
    * `n_kept`, and the reassembled `text` ('' when nothing survives).
    *
    * Scale shape: document frequency is ONE aggregate keyed on the
    * 8-byte xxhash64 of the paragraph (the digest shuffles, never the
    * paragraph body — the [[hashGroups]] posture; identical to the
    * text-keyed answer absent 64-bit collisions, prob ~n²/2⁶⁵), then
    * the paragraph stream joins the df relation on the same hash.
    * Reassembly is a per-document bounded aggregate (array_sort over
    * one document's own paragraphs). Boilerplate hash keys are hot by
    * definition — AQE's skew-join case, same as the LM probes. */
  def paragraphDedup(paras: DataFrame, maxDf: Int = 1, idCol: String = "doc_id",
                     posCol: String = "pos", paraCol: String = "para"): DataFrame = {
    // materialize the paragraph relation ONCE: it is consumed by both
    // the df aggregate and the reassembly join, and upstream is
    // usually extraction (regex-heavy) — without this the whole
    // extract pipeline runs twice (no ReusedExchange: the two
    // consumers shuffle different projections). At 100 TB this is the
    // "write extracted paragraphs before dedup" stage every real
    // pipeline has — recompute costs more than the spill-backed cache.
    val hashed = paras.select(col(idCol).as("doc_id"), col(posCol).as("pos"),
      col(paraCol).as("para"), xxhash64(col(paraCol)).as("ph"))
      .truncateLineage
    val dfRel = hashed.groupBy(col("ph"))
      .agg(countDistinct(col("doc_id")).as("df"))
    hashed
      .join(dfRel, Seq("ph"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        count(when(col("df") <= maxDf, 1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("df") <= maxDf, struct(col("pos"), col("para"))))),
          s => s.getField("para"))).as("text"))
  }

  /** Latest-fetch snapshot dedup — crawl corpora carry every re-fetch
    * of a URL; training wants exactly one: the newest. One `max` of
    * (ts, payload-struct) per key — lexicographic struct ordering
    * makes the winner deterministic even on timestamp ties (payload
    * breaks them), and the aggregate is a single fixed-size buffer per
    * key, so the operator is one shuffle on the URL key at any scale. */
  def latestSnapshot(recs: DataFrame, keyCol: String = "url",
                     tsCol: String = "fetch_ts"): DataFrame = {
    val rest = recs.columns.filter(c => c != keyCol && c != tsCol)
    val payload = struct(col(tsCol) +: rest.map(col): _*)
    recs.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_snapshots"), max(payload).as("w"))
      .select(col(keyCol) +: col(s"w.$tsCol").as(tsCol) +:
        rest.map(c => col(s"w.$c").as(c)) :+ col("n_snapshots"): _*)
  }

  /** Snapshot differencing — what changed between two crawls of the
    * same key space: per key, `added` (new only), `removed` (old
    * only), `changed` (both, different content), `unchanged`. The
    * crawl-ops view that drives re-fetch scheduling and incremental
    * corpus updates. Content compares by 32-byte digest, so the full
    * outer join shuffles digests, never page bodies — one shuffle on
    * the key at any scale. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, keyCol: String = "url",
                   contentCol: String = "html"): DataFrame = {
    val o = oldSnap.select(col(keyCol), sha2(col(contentCol), 256).as("h_old"))
    val n = newSnap.select(col(keyCol), sha2(col(contentCol), 256).as("h_new"))
    o.join(n, Seq(keyCol), "full_outer")
      .select(col(keyCol),
        when(col("h_old").isNull, lit("added"))
          .when(col("h_new").isNull, lit("removed"))
          .when(col("h_old") === col("h_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Exact dedup with a PRIORITY survivor rule — "keep the curated
    * copy, drop the crawl's": within each content-digest group the
    * winner is the highest-priority row, min id breaking ties. One
    * `max_by` aggregate per digest — a single fixed-size buffer per
    * group regardless of how many copies a boilerplate document has
    * (the bounded-state posture of GroupedTopK at k = 1), partial+final
    * combinable, never a per-key sort. Emits the winning rows with
    * their full payload. */
  def priorityDedup(docs: DataFrame, textCol: String = "text",
                    priorityCol: String = "priority", idCol: String = "doc_id"): DataFrame = {
    val all = struct(docs.columns.map(col).toIndexedSeq: _*)
    docs.groupBy(sha2(col(textCol), 256).as("__digest"))
      .agg(max_by(all, struct(col(priorityCol), (-col(idCol)).as("__negid"))).as("__w"))
      .select(col("__w.*"))
  }

  private def rawShingles(docs: DataFrame, w: Int, textCol: String, idCol: String): DataFrame =
    // fan out before shingling (optimization r17, the pageFromDocs
    // device; gated r18 through graft.plans.FanOut): the documents
    // scan is one task at every shipped SF, so tokenize + slice +
    // hash + partial-distinct otherwise run single-threaded for every
    // similarity consumer; the gated exchange skips already-wide
    // scans and sizes the fan by source bytes, and the downstream
    // 8-byte distinct is unchanged
    graft.plans.FanOut.fanOutIfNarrow(docs, col(idCol))
      .select(col(idCol).as("doc_id"), TextOps.rawTokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= w)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(0, size(toks) - $w), i -> concat_ws(' ', slice(toks, i + 1, $w)))")).as("shingle"))

  /** Distinct w-token shingles per document (whitespace tokens, raw).
    * One row per (doc, shingle); the unit of all similarity below. */
  def shingles(docs: DataFrame, w: Int = 3, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    rawShingles(docs, w, textCol, idCol).distinct()

  /** Distinct shingles reduced to 64-bit identities: all similarity
    * joins/groupings downstream key on an 8-byte long instead of the
    * shingle text — at 100 TB that is the difference between shuffling
    * strings and shuffling fixed-width keys. Collision risk at 64 bits
    * is ~n²/2⁶⁵ (≈1e-8 for a billion distinct shingles) — accepted. */
  def shingleIds(docs: DataFrame, w: Int = 3,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    rawShingles(docs, w, textCol, idCol)
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
      .distinct() // dedup AFTER hashing: the distinct shuffles 8-byte keys

  /** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS scheme): hash every k-token gram, slide a
    * window of `w` consecutive gram hashes, and in each window select
    * the minimum hash — rightmost on ties (the paper's robust rule).
    * The guarantee [[shingleIds]] cannot give: ANY shared run of at
    * least w+k-1 tokens is caught by at least one SHARED fingerprint,
    * at an expected density of only 2/(w+1) of the grams — local
    * fingerprinting with a detection floor, instead of keeping (or
    * minhashing away) the full shingle set.
    *
    * Engine-exact selection: the gram hash is the first 40 bits of
    * md5 (identical bytes in any engine), packed with the tie-broken
    * position as h·2²⁰ + (2²⁰−1−pos) — one BIGINT whose window MIN is
    * precisely "smallest hash, rightmost position" (positions bounded
    * by 2²⁰ grams/doc; document-scale, not corpus-scale). Selection is
    * one per-doc ordered window over that packed key — key-partitioned
    * frames, no corpus-wide sort, the rolling-anomaly posture. Only
    * FULL windows select (pos ≥ w−1), per the paper.
    * Output: distinct (doc_id, fp, fp_pos). */
  def winnowingFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4,
                            textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val grams = docs
      .select(col(idCol).as("doc_id"), TextOps.rawTokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= k + w - 1) // at least one full window
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, size(toks) - $k), i -> concat_ws(' ', slice(toks, i + 1, $k)))")))
      .withColumnsRenamed(Map("pos" -> "gpos", "col" -> "gram"))
    val h = expr("cast(conv(substring(md5(gram), 1, 10), 16, 10) as bigint)")
    val win = Window.partitionBy(col("doc_id")).orderBy(col("gpos"))
      .rowsBetween(-(w - 1), 0)
    grams
      .select(col("doc_id"), col("gpos").cast(LongType).as("gpos"),
        (h * lit(1L << 20) + (lit((1L << 20) - 1L) - col("gpos"))).as("pk"))
      .withColumn("sel", min(col("pk")).over(win))
      .where(col("gpos") >= w - 1)
      .select(col("doc_id"),
        shiftright(col("sel"), 20).as("fp"),
        (lit((1L << 20) - 1L) - col("sel").bitwiseAND(lit((1L << 20) - 1L))).as("fp_pos"))
      .distinct()
  }

  /** Copy-candidate pairs from shared winnowing fingerprints: the
    * MOSS match step — pairs of documents sharing at least
    * `minShared` distinct selected fingerprints, with the count. By
    * the winnowing guarantee a shared ≥(w+k−1)-token run forces a
    * shared fingerprint, so real copies cannot hide; minShared ≥ 2
    * screens 40-bit-collision flukes.
    *
    * Scale shape: the join input is the SELECTED set (≈2/(w+1) of
    * grams), keyed on 8-byte fps; fingerprints shared by more than
    * `maxDf` docs (boilerplate — the df² blowup) are dropped from
    * candidacy exactly like [[cappedShingleIds]]' stop shingles. */
  def winnowingNearDups(docs: DataFrame, k: Int = 3, w: Int = 4,
                        minShared: Int = 2, maxDf: Int = 50,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val fps = winnowingFingerprints(docs, k, w, textCol, idCol)
      .select(col("doc_id"), col("fp")).distinct()
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("fp"))
    val capped = fps.join(rare, "fp")
    capped.as("a").join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** A shingle-intersection self-join is O(df²) per shingle: one hot
    * "stop shingle" (boilerplate shared by df documents) alone produces
    * df² join rows, which is what makes uncapped exact Jaccard
    * unrunnable past small corpora. Dropping shingles with document
    * frequency > maxDf from BOTH the intersection and the per-doc set
    * sizes bounds the join at maxDf·|shingles| rows and barely moves
    * the similarity signal (stop shingles are shared by near-everything,
    * so they carry none). maxDf <= 0 disables the cap; at corpus scale
    * set it ≈ 1e-4·|docs| or use minhashNearDups. The df filter reuses
    * the groupBy's own hash partitioning on `sh`, so it costs no extra
    * shuffle of the shingle table. */
  private def cappedShingleIds(docs: DataFrame, w: Int, maxDf: Int,
                               textCol: String, idCol: String): DataFrame = {
    val sh = shingleIds(docs, w, textCol, idCol)
    if (maxDf <= 0) sh
    else {
      val rare = sh.groupBy("sh").agg(count(lit(1)).as("df"))
        .where(col("df") <= maxDf).select("sh")
      sh.join(rare, "sh").select(col("doc_id"), col("sh"))
    }
  }

  /** Default stop-shingle cap: a no-op on corpora without boilerplate
    * (review data max df = 7 at sf0.01) while cutting hot-shingle join
    * blowup at larger scale. */
  val DefaultMaxDf = 10

  /** Exact pairwise n-gram Jaccard over all pairs sharing >=1 shingle
    * with document frequency <= maxDf (see cappedShingleIds).
    * Output: (doc_a < doc_b, inter, n_a, n_b, jaccard). Quadratic in
    * capped shingle frequency — the correctness baseline that
    * MinHash+LSH approximates at scale. */
  def jaccardPairs(docs: DataFrame, w: Int = 3, maxDf: Int = DefaultMaxDf,
                   textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // the shingle-id table feeds three plan branches (both join sides +
    // the per-doc counts); localCheckpoint materializes it once and the
    // blocks are dropped by the ContextCleaner when the plan is GC'd
    // (a bare persist leaks across a long many-query session)
    val sh = cappedShingleIds(docs, w, maxDf, textCol, idCol).truncateLineage
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"), col("n_b"),
        (col("inter") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
  }

  /** Asymmetric shingle CONTAINMENT (Broder's other resemblance
    * measure): C(A→B) = |S(A) ∩ S(B)| / |S(A)| — the fraction of A's
    * shingles that also appear in B. This is the partial-duplicate
    * detector Jaccard structurally misses: a paragraph quoted whole
    * inside a 100× longer page has C(quote→page) ≈ 1 while Jaccard
    * ≈ |quote|/|page| ≈ 0.01, far under any near-dup cut. Corpus use:
    * kill doc A when some B contains it (directed edge, unlike the
    * symmetric dedup clusters).
    *
    * Same candidate generation and cost bound as [[jaccardPairs]]
    * (shared-shingle pairs only, df-capped) — one extra projection on
    * the pair relation, so the 100 TB posture is unchanged. Output is
    * DIRECTED: one row per (doc_id, other_id) with containment of
    * doc_id in other_id >= minContainment, rounded to 6 dp BEFORE the
    * cut so both engines threshold the identical number. */
  def containmentPairs(docs: DataFrame, w: Int = 3, minContainment: Double = 0.5,
                       maxDf: Int = DefaultMaxDf, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val j = jaccardPairs(docs, w, maxDf, textCol, idCol)
    val dir = j.select(col("doc_a").as("doc_id"), col("doc_b").as("other_id"),
        col("inter"), col("n_a").as("n_own"))
      .unionAll(j.select(col("doc_b").as("doc_id"), col("doc_a").as("other_id"),
        col("inter"), col("n_b").as("n_own")))
    dir
      .withColumn("containment",
        round(col("inter").cast("double") / col("n_own").cast("double"), 6))
      .where(col("containment") >= minContainment)
      .select(col("doc_id"), col("other_id"), col("inter"), col("n_own"), col("containment"))
  }

  /** Shingle novelty score — the inverse of dedup: the fraction of a
    * document's distinct shingles that appear NOWHERE else in the
    * corpus. Curation reads it both ways: novelty ≈ 0 means the doc
    * is assembled from corpus-common phrasing (template/boilerplate,
    * even if no single pair-wise duplicate exists — the failure mode
    * containment and Jaccard both miss when the sources are many),
    * and a diversity-weighted sampler upweights high-novelty docs.
    *
    * Scale shape: the shingle relation, one df aggregate, one
    * key-local join back, one per-doc aggregate — all shuffles on the
    * shingle key, same bound as every shingle op here. */
  def noveltyScores(docs: DataFrame, w: Int = 3, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val sh = shingles(docs, w, textCol, idCol)
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    sh.join(df, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, lit(1L)).otherwise(lit(0L))).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_shingles").cast("double"), 6)
          .as("novelty"))
  }

  /** For every document, its single most-similar other document by
    * exact shingle Jaccard (symmetric closure of jaccardPairs, top-1
    * per doc, ties broken by the other id). */
  def nearestByJaccard(docs: DataFrame, w: Int = 3, maxDf: Int = DefaultMaxDf): DataFrame = {
    val j = jaccardPairs(docs, w, maxDf).select(col("doc_a"), col("doc_b"), col("jaccard"))
    val sym = j.select(col("doc_a").as("doc_id"), col("doc_b").as("other_id"), col("jaccard"))
      .union(j.select(col("doc_b").as("doc_id"), col("doc_a").as("other_id"), col("jaccard")))
    val win = Window.partitionBy(col("doc_id")).orderBy(desc("jaccard"), asc("other_id"))
    sym.withColumn("rn", row_number().over(win))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("other_id"), col("jaccard"))
  }

  // ---------------------------------------------------------------
  // MinHash + LSH
  // ---------------------------------------------------------------

  /** Deterministic splitmix64 — used only at plan-build time to derive
    * the k permutation constants from a fixed seed. */
  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d9a79fb9e4b8a7L // constant variant; determinism is all that matters
    z ^ (z >>> 31)
  }

  /** k-permutation MinHash signature per document over w-shingles.
    * h_i(s) = a_i * xxhash64(s) + b_i with wrapping 64-bit arithmetic
    * (requires spark.sql.ansi.enabled=false); signature element i is the
    * min over the document's shingles. One shuffle (groupBy doc_id),
    * k aggregates computed map-side in a single pass. */
  def minhashSignatures(docs: DataFrame, w: Int = 3, k: Int = 32,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sh = shingleIds(docs, w, textCol, idCol)
    val aggs = (0 until k).map { i =>
      val a = splitmix64(2L * i) | 1L // odd multiplier
      val b = splitmix64(2L * i + 1)
      min(col("sh") * lit(a) + lit(b)).as(s"h$i")
    }
    sh.groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** The (doc_id, band, bh) relation of a document set — the unit the
    * incremental near-dup ingest persists: `bands` 8-byte keys per
    * document, the signature-store smallness that keeps a 100 TB
    * corpus's near-dup memory ~3 orders of magnitude below the corpus
    * itself. */
  def bandKeys(docs: DataFrame, w: Int = 3, k: Int = 32, bands: Int = 8,
               textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val r = k / bands
    val bks = (0 until bands).map { i =>
      struct(lit(i).as("band"), xxhash64(lit(i), slice(col("sig"), i * r + 1, r)).as("bh"))
    }
    minhashSignatures(docs, w, k, textCol, idCol)
      .select(col("doc_id"), explode(array(bks: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  /** Incremental NEAR-dup ingest — [[incrementalDigestDedup]]'s
    * posture lifted from exact digests to MinHash/LSH: a batch
    * document is dropped when any of its band keys collides with the
    * persisted corpus band store, or with a LOWER-id batch document
    * (conservative batch-internal rule: a collision with an
    * already-dropped doc still drops — near-dup-of-a-near-dup is the
    * cheap side of the error for corpus construction). The corpus
    * text is never re-read; the only store-sized work is one semi
    * join on (band, bh).
    *
    * Admission is at LSH's operating point (the r-row/b-band S-curve),
    * not exact-Jaccard — exact verification would need stored
    * shingles, which the store deliberately trades away for size.
    * Returns the admitted batch rows; append [[bandKeys]] of the
    * admitted set to the store to complete the ingest cycle. */
  def incrementalMinhashDedup(batch: DataFrame, bandStore: DataFrame,
                              w: Int = 3, k: Int = 32, bands: Int = 8,
                              textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // consumed twice (internal self-join + store semi join)
    val banded = bandKeys(batch, w, k, bands, textCol, idCol).truncateLineage
    val internal = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") > col("y.doc_id"), "left_semi")
      .select(col("doc_id"))
    val vsStore = banded
      .join(bandStore.select(col("band"), col("bh")), Seq("band", "bh"), "left_semi")
      .select(col("doc_id"))
    val dropIds = internal.unionByName(vsStore).distinct()
      .withColumnRenamed("doc_id", idCol)
    batch.join(dropIds, Seq(idCol), "left_anti")
  }

  /** LSH banding: split the k-wide signature into `bands` bands of
    * k/bands rows; docs agreeing on any whole band become candidates.
    * Only (band-key, doc_id) shuffles — never the signatures crossed. */
  def lshCandidates(sigs: DataFrame, k: Int = 32, bands: Int = 8): DataFrame = {
    require(k % bands == 0,
      s"signature width k=$k must be divisible by bands=$bands (trailing elements would be silently ignored)")
    val r = k / bands
    val bandKeys = (0 until bands).map { i =>
      struct(lit(i).as("band"), xxhash64(lit(i), slice(col("sig"), i * r + 1, r)).as("bh"))
    }
    // localCheckpoint: the self-join below would otherwise recompute the
    // whole shingle -> signature pipeline once per side; blocks are
    // auto-dropped when the plan is GC'd (persist would leak)
    val banded = sigs.select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
      .truncateLineage
    banded.as("x")
      .join(banded.as("y"), col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
        && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact-Jaccard verification restricted to candidate pairs: the
    * candidate set joins back to the (stop-shingle-capped) shingle
    * table twice, so cost is |candidates| x capped shingle overlap —
    * the maxDf cap matters here too, because hot shingles would
    * otherwise dominate the candidate x shingle join exactly as they
    * dominate the all-pairs join. */
  def verifyCandidates(cand: DataFrame, docs: DataFrame, w: Int = 3, minJaccard: Double = 0.5,
                       maxDf: Int = DefaultMaxDf,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sh = cappedShingleIds(docs, w, maxDf, textCol, idCol).truncateLineage
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val shA = sh.select(col("doc_id").as("doc_a"), col("sh"))
    val shB = sh.select(col("doc_id").as("doc_b"), col("sh"))
    val inter = cand
      .join(shA, "doc_a")
      .join(shB, Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jaccard", col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** End-to-end MinHash near-dup: signatures → banded candidates →
    * exact verification. */
  /** Banding default 8 bands x 4 rows: detection threshold
    * (1/b)^(1/r) ≈ 0.59 — tuned for the J >= 0.5 near-dup target.
    * Wider banding (16x2, threshold 0.25) was measured 9x slower on a
    * shared-vocabulary corpus: it promotes a large fraction of ALL
    * pairs to candidates, defeating the point of LSH. Recall for
    * borderline pairs is the tunable tradeoff. */
  def minhashNearDups(docs: DataFrame, w: Int = 3, k: Int = 32, bands: Int = 8,
                      minJaccard: Double = 0.5, maxDf: Int = DefaultMaxDf,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    verifyCandidates(lshCandidates(minhashSignatures(docs, w, k, textCol, idCol), k, bands),
      docs, w, minJaccard, maxDf, textCol, idCol)
  }

  // ---------------------------------------------------------------
  // Near-dup clusters (connected components)
  // ---------------------------------------------------------------

  /** Connected components over a near-dup pair table: every document
    * gets the MINIMUM doc_id of its cluster as cluster_id (singletons
    * keep their own id), which is exactly the "keep one canonical doc
    * per duplicate cluster" step a dedup pipeline ends with —
    * pairwise similarity alone over-deletes (a~b, b~c must collapse to
    * ONE cluster even when a~c was never scored).
    *
    * Iterative min-label propagation: each round joins labels across
    * edges and keeps the elementwise minimum; converges in
    * O(component diameter) rounds — near-dup clusters are shallow
    * (boilerplate families), so this is 2-4 rounds in practice. Each
    * round is one equi-join + one aggregate, localCheckpoint'ed so the
    * lineage (and the plan Catalyst must codegen) stays flat. The
    * driver-side loop only reads the CHANGED count (an aggregate, not
    * the data); at extreme diameters switch to the large-star/
    * small-star formulation (Kiveris et al., "Connected Components in
    * MapReduce", SOCC 2014) — same join shape, fewer rounds. */
  def nearDupClusters(pairs: DataFrame, docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    nearDupClustersWithRounds(pairs, docs, idCol)._1

  /** [[nearDupClusters]] plus its round count — for the spec that
    * shows [[graft.operators.Graph.starComponents]] converging in
    * fewer rounds on long chains. */
  private[graft] def nearDupClustersWithRounds(pairs: DataFrame, docs: DataFrame,
                                               idCol: String = "doc_id"): (DataFrame, Int) = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .truncateLineage
    var labels = docs.select(col(idCol).as("doc_id"), col(idCol).as("label"))
      .truncateLineage
    var rounds = 0
    var changed = 1L
    while (changed > 0) {
      rounds += 1
      val nbr = edges.join(labels.withColumnRenamed("doc_id", "src"), "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("label")).as("nbr_label"))
      // carry the old label through the update so convergence is read
      // off `next` directly — no per-iteration re-join against `labels`
      val next = labels.join(nbr, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"),
          col("label").as("old_label"))
        .truncateLineage
      changed = next.where(col("label") =!= col("old_label")).count()
      labels = next.select(col("doc_id"), col("label"))
    }
    (labels.select(col("doc_id"), col("label").as("cluster_id")), rounds)
  }

  /** Near-dup dedup with a QUALITY survivor rule: each
    * [[nearDupClusters]] family keeps its best-scoring member (max
    * score, min id on ties) — what a curation pipeline actually does
    * with near-duplicate families: keep the cleanest/longest copy,
    * not the smallest id. One bounded `max_by` buffer per cluster —
    * the [[priorityDedup]] device lifted from exact digests to
    * similarity clusters; a boilerplate family of any size costs one
    * fixed-width aggregation state. */
  def bestPerCluster(clusters: DataFrame, scored: DataFrame, idCol: String = "doc_id",
                     scoreCol: String = "score"): DataFrame =
    clusters.join(scored, Seq(idCol))
      .groupBy(col("cluster_id"))
      .agg(max_by(struct(col(idCol), col(scoreCol)),
        struct(col(scoreCol), (-col(idCol)).as("__negid"))).as("__w"))
      .select(col("cluster_id"), col(s"__w.$idCol").as("keep_id"),
        col(s"__w.$scoreCol").as(scoreCol))

  // ---------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------

  /** 64-bit SimHash per document over cleaned words, weighted by term
    * frequency: bit j of the fingerprint is 1 iff the tf-weighted sum
    * of bit j over all term hashes is positive. Two shuffles: word
    * counts per doc, then 64 conditional sums per doc. */
  def simhash(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val wordCounts = TextOps.docWords(docs, textCol, idCol)
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("w_cnt"))
      .withColumn("h", xxhash64(col("word")))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, col("w_cnt"))
        .otherwise(-col("w_cnt"))).as(s"b$j")
    }
    val perDoc = wordCounts.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 64).foldLeft(lit(0L)) { (acc, j) =>
      acc.bitwiseOR(when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
    }
    perDoc.select(col("doc_id"), fp.as("simhash"))
  }

  /** Exact substring-level duplication (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): character spans of
    * length `k` repeated across ≥ `minDocs` distinct documents — the
    * boilerplate/citation/license-block signal that document-level
    * Jaccard misses because the surrounding text differs. Their
    * suffix-array construction is a single-machine algorithm; the
    * shuffle-native equivalent is a strided k-char window grid: every
    * duplicated run of length ≥ k + stride − 1 is guaranteed to cover
    * at least one full grid window at equal offsets modulo stride on
    * both copies ONLY when the copies are stride-aligned, so the grid
    * is exact for stride = 1 and a (k, stride)-tunable recall knob
    * above that — callers pick stride ≈ k/4 for the 4× input reduction
    * and accept misses of unaligned duplicates shorter than k + stride.
    *
    * Scale shape, two passes over the window grid (the grid itself is
    * a narrow scan+generate, no shuffle — recomputing it is cheap;
    * sorting it would not be):
    *  1. COUNT pass: group by xxhash64(span) — an 8-byte id instead of
    *     the k-char text, the [[shingleIds]] identity device (~4× less
    *     key width on every shuffled row; the count-distinct expand
    *     keys on (hash, doc_id) ints). All-fixed-width aggregates keep
    *     this a partial-combined HashAggregate; carrying the span text
    *     as a min() payload instead would demote the whole corpus agg
    *     to SortAggregate (min over strings has no fixed-width buffer).
    *     HAVING ≥ minDocs bounds the flagged set.
    *  2. RECOVERY pass: re-derive the windows and semi-join them to
    *     the flagged hashes — only actual duplicate occurrences reach
    *     the min(span) agg, so the one string-keyed aggregate runs
    *     over the duplicated tail, not the corpus.
    * Collision budget is the shingleIds one (~n²/2⁶⁵, accepted); the
    * output is hash-FREE (span, n_docs, n_occ), so the DuckDB twin
    * groups by the text itself and the oracle proves the hashed plan
    * reproduces the text-keyed answer bit-for-bit. */
  def duplicatedSpans(docs: DataFrame, k: Int = 32, stride: Int = 8, minDocs: Int = 2,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    def windows: DataFrame = docs
      .where(length(col(textCol)) >= k)
      .select(col(idCol).as("doc_id"),
        explode(sequence(lit(1), length(col(textCol)) - lit(k - 1), lit(stride))).as("pos"),
        col(textCol))
      .select(col("doc_id"), col(textCol).substr(col("pos"), lit(k)).as("span"))
    val flagged = windows
      .groupBy(xxhash64(col("span")).as("h"))
      .agg(count_distinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .where(col("n_docs") >= minDocs)
    val spans = windows
      .select(xxhash64(col("span")).as("h"), col("span"))
      .join(flagged.select(col("h")), Seq("h"), "left_semi")
      .groupBy(col("h")).agg(min(col("span")).as("span"))
    flagged.join(spans, Seq("h"))
      .select(col("span"), col("n_docs"), col("n_occ"))
  }

  /** Maximal duplicated REGIONS per document — the actionable form of
    * the [[duplicatedSpans]] signal (a cleaning pass cuts
    * text[start..end], it does not cut 32-char confetti): k-char grid
    * windows flagged as cross-document duplicates coalesce per
    * document into islands by the gaps-and-islands device — windows
    * sort per doc by position, a new island opens where the position
    * clears the running max end by more than one, each island reports
    * [min start, max end]. Scale shape: the flag pass is
    * duplicatedSpans' 8-byte-hash aggregate; the coalesce is
    * key-partitioned windows over the FLAGGED subset only (duplicated
    * tail, not the corpus), parallel in document cardinality with no
    * global sort anywhere. */
  def duplicatedRegions(docs: DataFrame, k: Int = 32, stride: Int = 8, minDocs: Int = 2,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    def windows: DataFrame = docs
      .where(length(col(textCol)) >= k)
      .select(col(idCol).as("doc_id"),
        explode(sequence(lit(1), length(col(textCol)) - lit(k - 1), lit(stride))).as("pos"),
        col(textCol))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
        xxhash64(col(textCol).substr(col("pos"), lit(k))).as("h"))
    val flagged = windows
      .groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
    val hits = windows.join(flagged.select(col("h")), Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"), (col("pos") + lit(k - 1)).as("end"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = hits
      .withColumn("prev_max_end",
        max(col("end")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        (col("prev_max_end").isNull || col("pos") > col("prev_max_end") + 1).cast(LongType))
      .withColumn("island", sum(col("new_island")).over(byDoc))
    islands.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("region_start"), max(col("end")).as("region_end"))
      .select(col("doc_id"), col("region_start"), col("region_end"),
        (col("region_end") - col("region_start") + 1).as("region_len"))
  }

  /** Fuzzy (edit-distance) self-join — the approximate string join of
    * Gravano et al. 2001 (VLDB), q-gram count filtering: all pairs of
    * strings within `maxDist` edits, WITHOUT the O(N²) cross product.
    *
    * Candidate generation is LOSSLESS by the positional q-gram lemma:
    * if ed(a,b) = e ≤ d, at least max(|a|,|b|) − q + 1 − q·e of the
    * longer string's q-grams survive every edit untouched and occur in
    * the other string within e positions of their origin. The count
    * filter therefore keeps every true pair (the gram join counts all
    * banded gram matches, which only over-counts bag overlap — a
    * superset), and exact `levenshtein` verification removes the rest.
    * Two necessary conditions prune before counting: grams must match
    * at |Δpos| ≤ d, and |len(a) − len(b)| ≤ d.
    *
    * The q-gram lemma cannot certify a pair whose LONGER side is
    * shorter than q·(d+1) (its threshold would be < 1, and two close
    * short strings can share zero grams). Those pairs — both sides
    * short — go through a bounded exact pass instead: the short set
    * self-joins banded on length. At any corpus scale the short set is
    * alphabet-bounded (there are at most |Σ|^(q·(d+1)) distinct short
    * strings; dedup upstream if they repeat), so the quadratic pass is
    * quadratic in a CONSTANT. A short×long pair is certified by the
    * long side's threshold and stays in the filtered path.
    *
    * Scale shape: grams shuffle as (8-byte xxhash64, int pos); the
    * only wide data is the bounded candidate set reaching the verify
    * join. Hot grams ("re", "ed" on English text) are the skew axis —
    * the positional band caps their pair fan-out per occurrence at
    * 2d+1 of the hot gram's df, and AQE skew-split handles the rest
    * (the SkewJoinSpec posture). Verification touches candidates only. */
  def editDistancePairs(strs: DataFrame, q: Int = 2, maxDist: Int = 2,
                        strCol: String = "s", idCol: String = "id"): DataFrame = {
    val certLen = q * (maxDist + 1) // lemma threshold ≥ 1 iff max(len) ≥ this
    // consumed by the gram pass and twice by the verify join
    val all = strs.select(col(idCol).as("id"), col(strCol).as("s")).truncateLineage
    // every string with at least one gram participates (a short side
    // can pair with a certifiable long side within the length band)
    val s = all.where(length(col("s")) >= q)
    val grams = s.select(col("id"), length(col("s")).as("len"),
        explode(sequence(lit(1), length(col("s")) - lit(q - 1))).as("pos"), col("s"))
      .select(col("id"), col("len"), col("pos"),
        xxhash64(col("s").substr(col("pos"), lit(q))).as("g"))
    val cand = grams.as("a").join(grams.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
        abs(col("a.pos") - col("b.pos")) <= maxDist &&
        abs(col("a.len") - col("b.len")) <= maxDist)
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.len").as("len_a"), col("b.len").as("len_b"))
      .agg(count(lit(1)).as("m"))
      // the pair partition: the gram path owns pairs whose LONGER side
      // is certifiable; the rest go to the exact tail below
      .where(greatest(col("len_a"), col("len_b")) >= certLen &&
        col("m") >= greatest(col("len_a"), col("len_b")) - lit(q - 1) - lit(q * maxDist))
    val filtered = cand
      .join(all.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(all.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b")).cast(org.apache.spark.sql.types.LongType).as("dist"))
      .where(col("dist") <= maxDist)
    // the uncertifiable tail: BOTH sides shorter than certLen (a pair
    // with one certifiable side is the gram path's, by the partition
    // above; a gramless string's partners are all in this set — its
    // length band tops out below certLen). Exact, length-banded
    // self-join over the alphabet-bounded short set.
    val short = all.where(length(col("s")) < certLen)
    val shortPairs = short.select(col("id").as("id_a"), col("s").as("s_a"))
      .join(short.select(col("id").as("id_b"), col("s").as("s_b")),
        col("id_a") < col("id_b") &&
        abs(length(col("s_a")) - length(col("s_b"))) <= maxDist)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b")).cast(org.apache.spark.sql.types.LongType).as("dist"))
      .where(col("dist") <= maxDist)
    filtered.unionByName(shortPairs)
  }

  /** ENTITY RESOLUTION: records whose string attribute lies within
    * `maxDist` edits group TRANSITIVELY into one entity, and each
    * entity gets a canonical representative — the standard
    * name/address consolidation a curation pipeline runs before
    * joining dirty sources. Pure composition of shipped halves:
    * [[editDistancePairs]] (lossless q-gram-filtered fuzzy self-join,
    * never the N² product) feeds [[nearDupClusters]] (min-label
    * connected components), then the canonical pick — the entity's
    * min-id record's string — makes the output deterministic across
    * re-runs and engines. One row per input record:
    * (id, s, entity_id, canonical).
    *
    * Scale: inherits its parts' bounded shapes; the two closing joins
    * are equi joins on id/entity_id (the representative relation is
    * cluster-count-sized — AQE broadcasts it when small). */
  def resolveEntities(recs: DataFrame, q: Int = 2, maxDist: Int = 2,
                      strCol: String = "s", idCol: String = "id"): DataFrame = {
    val pairs = editDistancePairs(recs, q, maxDist, strCol, idCol)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val clusters = nearDupClusters(pairs, recs.select(col(idCol).as("doc_id")))
    val labeled = recs.select(col(idCol).as("id"), col(strCol).as("s"))
      .join(clusters.withColumnRenamed("doc_id", "id"), Seq("id"))
    val reps = labeled.where(col("id") === col("cluster_id"))
      .select(col("cluster_id"), col("s").as("canonical"))
    labeled.join(reps, Seq("cluster_id"))
      .select(col("id"), col("s"), col("cluster_id").as("entity_id"), col("canonical"))
  }
}
