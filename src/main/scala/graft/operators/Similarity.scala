package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.Lineage.TruncateOps

/** Similarity search over an embedding column `Array[Float]`
  * (SURVEY.md §2.11 [NS]): brute-force cosine top-k as the correctness
  * baseline, plus a random-hyperplane LSH bucketing that bounds the
  * candidate set at scale.
  *
  * Arithmetic is done in Double (floats widened first): float x float
  * products are exact in double, and the fold accumulates in index
  * order, so results are deterministic for a given pair.
  *
  * At 100 TB: brute force is queries x corpus — fine when the query set
  * is small and broadcast (as here: the query side of the join is tiny,
  * Catalyst broadcasts it, so the corpus is scanned once with no
  * shuffle). For large query sets use `lshBuckets`: candidates shuffle
  * on the bucket key only, turning O(Q x N) into O(sum of bucket^2).
  */
object Similarity {
  import graft.functions.VectorFunctions.{vec_adc_score, vec_dot, vec_norm}

  /** Codegen'd index-ordered dot product (graft.functions.VecDot). */
  def dot(a: Column, b: Column): Column = vec_dot(a, b)

  def l2Norm(a: Column): Column = vec_norm(a)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self-matches excluded), rank-ordered with c_id as
    * the deterministic tie-break. Norms are computed ONCE per vector on
    * each side before the join — the pair loop does a single fused dot
    * product, not three. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    // Optimization r18: the pair generator is a broadcast nested-loop
    // join whose streamed side inherits the raw scan's partitioning —
    // ONE task for the whole n·|C| dot-product expansion on the
    // single-file embeddings fixture. Fan the streamed (query) side
    // through the gated device (explode weight: every query row
    // becomes |C| downstream pairs); wide scans skip. Pair set, ranks
    // and ties are partitioning-independent — results identical.
    val qf = graft.plans.FanOut.fanOutIfNarrow(queries, col("vec_id"),
      graft.plans.FanOut.ExplodeBytesPerTask)
    val q = qf.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      vec_norm(col("embedding")).as("q_n"))
    val c = corpus.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      vec_norm(col("embedding")).as("c_n"))
    val sims = q.join(broadcast(c), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        (vec_dot(col("q_emb"), col("c_emb")) / (col("q_n") * col("c_n"))).as("sim"))
    rankTopK(sims, k)
  }

  /** The shared top-k finish of every ANN ranker (brute/LSH/IVF):
    * per-query top `k` by (sim desc, c_id asc) through GroupedTopK's
    * bounded heap — per-group state is k rows regardless of candidate
    * count, where the old row_number window sorted EVERY candidate per
    * query (candidates per query grow with the corpus once the
    * quantizer's cell count is capped) — then the rank as a window
    * over the ≤ k survivors: result-sized, never candidate-sized.
    * Same ordering, same tie-break — value-identical to the window
    * formulation, so no twin moves. */
  private def rankTopK(sims: DataFrame, k: Int): DataFrame = {
    val short = graft.plans.GroupedTopK.topKPerKey(sims, Seq("q_id"),
      Seq(("sim", true), ("c_id", false)), k)
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), asc("c_id"))
    short.withColumn("rank", row_number().over(w).cast(LongType))
      .select(col("q_id"), col("rank"), col("c_id"), round(col("sim"), 4).as("sim_r"))
  }

  /** Embedding-cosine near-duplicate pairs: all (a < b) with cosine
    * above the threshold — the embedding-space analog of
    * Dedup.jaccardPairs. Brute force here (correctness baseline /
    * oracle-checkable); at scale swap the pair generator for
    * lshBuckets candidates. */
  def cosineNearDupPairs(emb: DataFrame, minSim: Double = 0.4): DataFrame = {
    // r18: same streamed-side fan as bruteForceTopK — the n²/2 pair
    // expansion otherwise runs in the scan's one task (see there)
    val af = graft.plans.FanOut.fanOutIfNarrow(emb, col("vec_id"),
      graft.plans.FanOut.ExplodeBytesPerTask)
    val a = af.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      vec_norm(col("embedding")).as("n_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      vec_norm(col("embedding")).as("n_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (vec_dot(col("emb_a"), col("emb_b")) / (col("n_a") * col("n_b"))).as("sim"))
      .where(col("sim") >= minSim)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim_r"))
  }

  /** Margin-based parallel-corpus mining (Artetxe & Schwenk, "Margin-
    * based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings", ACL 2019): for each source-side vector, its best
    * target-side candidate scored by the RATIO margin
    *
    *   margin(x, y) = cos(x, y) / ((avgNN_k(x) + avgNN_k(y)) / 2)
    *
    * — raw cosine rewards hubs (vectors near everything); dividing by
    * the average of each side's k-NN similarity mass cancels the hub
    * term, which is what makes mined bitext usable. A pair is `mutual`
    * when each side is the other's margin-best — the
    * forward-backward-intersection mining mode.
    *
    * Sides are vec_id parity (the fixture's two "languages"); real use
    * passes two embedding relations. Exactness: cosines rounded(9) →
    * DECIMAL k-NN sums → ONE IEEE division per margin, rounded(6)
    * before every rank/threshold so both engines compare identical
    * values. Scale shape: brute-force pair generation here — this IS
    * the correctness baseline (like [[cosineNearDupPairs]]); the
    * registered scale path is [[bitextMarginMiningLsh]], which feeds
    * the identical margin chain ([[marginFromSims]]) from the
    * hyperplane-LSH shortlist instead of the cross product. */
  def bitextMarginMining(src: DataFrame, tgt: DataFrame, k: Int = 4,
                         minMargin: Double = 1.05): DataFrame = {
    // r18: same streamed-side fan as bruteForceTopK — the |S|·|T|
    // cross expansion otherwise runs in the scan's one task
    val sf = graft.plans.FanOut.fanOutIfNarrow(src, col("vec_id"),
      graft.plans.FanOut.ExplodeBytesPerTask)
    val s = sf.select(col("vec_id").as("s_id"), col("embedding").as("s_emb"),
      vec_norm(col("embedding")).as("s_n"))
    val t = tgt.select(col("vec_id").as("t_id"), col("embedding").as("t_emb"),
      vec_norm(col("embedding")).as("t_n"))
    val sims = s.crossJoin(broadcast(t))
      .select(col("s_id"), col("t_id"),
        round(vec_dot(col("s_emb"), col("t_emb")) / (col("s_n") * col("t_n")), 9)
          .cast(DecimalType(18, 9)).as("sim"))
      .truncateLineage // both k-NN passes and the margin join read it
    marginFromSims(sims, k, minMargin)
  }

  /** The margin chain shared by the brute and LSH-shortlist miners —
    * candidate-generator-agnostic by construction: per-side k-NN mass
    * over whatever (s_id, t_id, sim DECIMAL(18,9)) relation arrives,
    * ONE IEEE division per margin rounded(6) before every
    * rank/threshold, forward-best filter, mutual flag. */
  private def marginFromSims(sims: DataFrame, k: Int, minMargin: Double): DataFrame = {
    def knnMass(side: String, other: String) = sims
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(side)).orderBy(desc("sim"), col(other))))
      .where(col("rn") <= k)
      .groupBy(col(side))
      .agg(sum(col("sim")).as(s"deg_$side"))
    val m = sims
      .join(knnMass("s_id", "t_id"), "s_id")
      .join(knnMass("t_id", "s_id"), "t_id")
      .select(col("s_id"), col("t_id"),
        round((col("sim").cast(DoubleType) * 2.0) /
          ((col("deg_s_id") + col("deg_t_id")).cast(DoubleType) / k), 6).as("margin"))
    val fwd = m.withColumn("rns", row_number().over(
      Window.partitionBy(col("s_id")).orderBy(desc("margin"), col("t_id"))))
    val bwd = m.select(col("s_id"), col("t_id"),
      row_number().over(
        Window.partitionBy(col("t_id")).orderBy(desc("margin"), col("s_id"))).as("rnt"))
    fwd.where(col("rns") === 1 && col("margin") >= minMargin)
      .join(bwd, Seq("s_id", "t_id"))
      .select(col("s_id"), col("t_id"), col("margin"), (col("rnt") === 1).as("mutual"))
  }

  /** The 100-TB-scale bitext miner: candidates from `nTables`
    * independent hyperplane-LSH tables (SAME plane sets on both sides,
    * so co-bucketing is a similarity event, not a coincidence), then
    * the EXACT [[marginFromSims]] chain over the shortlist — k-NN mass
    * is measured within the candidate set, the standard
    * shortlist-margin approximation (Artetxe & Schwenk mine from a
    * FAISS shortlist the same way). Nothing here is cross-product:
    * bucketing is one map-side scan per side (plan-constant planes),
    * candidates are ONE equi-join on (table, bucket) + distinct, and
    * the margin chain is two k-bounded window ranks and a join on the
    * candidate relation. Recall per pair at cosine s:
    * 1 − (1 − (1 − acos(s)/π)^nPlanes)^nTables — defaults match
    * [[cosineNearDupPairsLsh]]'s low-threshold regime (the synthetic
    * corpus's true pairs sit at s ≈ 0.4-0.6). Fully deterministic
    * (splitmix planes + rounded cosines), so the whole shortlist
    * variant sits behind the oracle hash gate, not just a row count. */
  def bitextMarginMiningLsh(src: DataFrame, tgt: DataFrame, k: Int = 4,
                            minMargin: Double = 1.05, nPlanes: Int = 4,
                            dim: Int = 64, nTables: Int = 8): DataFrame = {
    def sideKeys(df: DataFrame, idAs: String) = {
      val keys = (0 until nTables).map(t =>
        struct(lit(t).as("t"), bucketKey(nPlanes, dim, t).as("bucket")))
      df.select(col("vec_id").as(idAs), explode(array(keys: _*)).as("tb"))
        .select(col(idAs), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    }
    val cand = sideKeys(src, "s_id").join(sideKeys(tgt, "t_id"), Seq("t", "bucket"))
      .select(col("s_id"), col("t_id")).distinct()
    val s = src.select(col("vec_id").as("s_id"), col("embedding").as("s_emb"),
      vec_norm(col("embedding")).as("s_n"))
    val t = tgt.select(col("vec_id").as("t_id"), col("embedding").as("t_emb"),
      vec_norm(col("embedding")).as("t_n"))
    val sims = cand.join(s, "s_id").join(t, "t_id")
      .select(col("s_id"), col("t_id"),
        round(vec_dot(col("s_emb"), col("t_emb")) / (col("s_n") * col("t_n")), 9)
          .cast(DecimalType(18, 9)).as("sim"))
      .truncateLineage
    marginFromSims(sims, k, minMargin)
  }

  /** k-occurrence hubness audit (Radovanović, Nanopoulos, Ivanović,
    * "Hubs in Space: Popular Nearest Neighbors in High-Dimensional
    * Data", JMLR 2010): N_k(x) = how many other vectors list x in
    * their k-NN — in high dimensions its distribution skews hard
    * (a few hubs appear in everyone's neighbor lists, many antihubs
    * in nobody's), which silently corrupts every k-NN-based consumer
    * here: SemDeDup over-merges around hubs, margin mining's
    * denominator inflates, IVF cells centered on hubs bloat. Output is
    * the exact N_k histogram (n_k, n_vectors), antihubs included via
    * the left join — a long right tail + a fat zero bucket is the
    * red flag. Brute-force k-NN as the correctness baseline (the
    * [[bruteForceTopK]] device); the registered scale path is
    * [[knnHubnessIvf]] — IVF-shortlist candidates, identical census. */
  def knnHubness(emb: DataFrame, k: Int = 10): DataFrame =
    kOccurrenceCensus(emb, bruteForceTopK(emb, emb, k))

  /** The census half of the hubness audit, shared by the brute and
    * IVF variants: count each vector's appearances in others' top-k
    * lists, restore antihubs via the left join, histogram N_k. */
  private def kOccurrenceCensus(emb: DataFrame, ranked: DataFrame): DataFrame = {
    val occ = ranked.groupBy(col("c_id")).agg(count(lit(1)).as("occ"))
    emb.select(col("vec_id"))
      .join(occ, col("vec_id") === col("c_id"), "left")
      .select(coalesce(col("occ"), lit(0L)).as("n_k"))
      .groupBy(col("n_k")).agg(count(lit(1)).as("n_vectors"))
  }

  /** The 100-TB-scale hubness audit: the k-occurrence census over
    * [[ivfTopK]]'s ranked lists instead of the brute cross product —
    * exactly the production posture the audit exists for, since it is
    * the IVF-served neighbor lists (shortlist biases included) whose
    * hub structure every downstream k-NN consumer actually sees.
    * Candidate cost drops from O(N²) to O(N² · nProbe / nCells); every
    * step stays deterministic (kCent-capped stride centroids, argmax
    * cells, exact within-candidate cosine ranks), so the census is
    * hash-checkable end to end. */
  def knnHubnessIvf(emb: DataFrame, k: Int = 10, step: Int = 25,
                    nProbe: Int = 4, kCent: Int = 64): DataFrame =
    kOccurrenceCensus(emb, ivfTopK(emb, step, nProbe, k, kCent = kCent))

  /** Deterministic pseudo-random unit-free hyperplanes: component d of
    * plane p is derived from splitmix64(p * dim + d) scaled to [-1, 1].
    * Plan-build-time constants — identical across executors. */
  private def plane(p: Int, dim: Int): Array[Double] = {
    def sm(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d9a79fb9e4b8a7L
      z ^ (z >>> 31)
    }
    Array.tabulate(dim)(d => sm(p.toLong * dim + d).toDouble / Long.MaxValue.toDouble)
  }

  /** Sign-LSH bucket key expression for one table's plane set. */
  private def bucketKey(nPlanes: Int, dim: Int, tableId: Int): Column =
    (0 until nPlanes).foldLeft(lit(0L)) { (acc, p) =>
      val pl = plane(tableId * nPlanes + p, dim)
      val proj = vec_dot(col("embedding"), array(pl.map(lit): _*))
      acc.bitwiseOR(when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L)))
    }

  /** Random-hyperplane (sign) LSH bucket key per vector: bit p of the
    * key is the sign of <v, plane_p>. Vectors in the same bucket are
    * near-duplicate candidates (cosine-LSH, Charikar 2002). `tableId`
    * selects an independent plane set, so L tables give L independent
    * candidate draws (tableId 0 = the original planes). */
  def lshBuckets(emb: DataFrame, nPlanes: Int = 16, dim: Int = 64, tableId: Int = 0): DataFrame =
    emb.select(col("vec_id"), col("embedding"), bucketKey(nPlanes, dim, tableId).as("bucket"))

  /** Offset into the [[plane]] index stream reserved for the JL
    * projection (LSH tables use p = tableId·nPlanes + plane, small
    * integers; 4096 keeps the streams disjoint). */
  val JlPlaneOffset: Int = 4096

  /** Johnson-Lindenstrauss random projection to `k` dims — the
    * dimensionality-reduction front of an ANN stack (project once,
    * bucket/search in the small space, re-rank survivors in the
    * original space). Component j is <v, plane_{offset+j}> rounded
    * 9 dp — the same deterministic splitmix64 hyperplanes the LSH
    * family uses, so the twin replays the exact geometry via
    * [[planeSql]]. One narrow projection: k codegen'd vec_dot calls,
    * no shuffle. Components are uniform in [-1,1] (variance 1/3), so
    * squared distances in the projected space estimate 3/k × the
    * original — the distortion audit applies that factor. */
  def jlProject(emb: DataFrame, k: Int = 16, dim: Int = 64): DataFrame =
    emb.select(col("vec_id"),
      array((0 until k).map(j =>
        round(vec_dot(col("embedding"),
          array(plane(JlPlaneOffset + j, dim).map(lit): _*)), 9)): _*).as("proj"))

  /** Plane `p` rendered as a DuckDB DOUBLE-list literal (%.17e
    * round-trips IEEE doubles exactly), so the oracle twin of every
    * LSH-keyed query hashes the SAME geometry the Spark plan uses —
    * what turns the bucket relation from rows-only into an exact
    * invariant. */
  def planeSql(p: Int, dim: Int): String =
    plane(p, dim).map(v =>
      String.format(java.util.Locale.ROOT, "%.17e", Double.box(v)))
      .mkString("[", ", ", "]")

  /** The EXACT skeleton under [[ivfTopK]], exposed as its own relation
    * (the streaming_ann_cells device, applied to the batch index): for
    * every vector its `nProbe` nearest kCent-capped stride centroids
    * with probe rank — rank 1 is the corpus-side home cell, ranks ≤
    * nProbe are the query-side probes, so ONE relation pins both
    * halves of the candidate structure. Frozen geometry (bounded
    * stride centroids — see [[strideCentroids]] — cosine argsort, id
    * tie-break) makes it closed-form for the SQL twin;
    * a drifted assignment, a lost vector, or a reordered probe list
    * all unhash it while the top-k answers stay rows-only. */
  def ivfProbeCells(emb: DataFrame, step: Int = 50, nProbe: Int = 4,
                    kCent: Int = 64): DataFrame = {
    val cents = strideCentroids(emb, step, kCent)
    val sims = emb.join(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        (vec_dot(col("embedding"), col("cent_emb")) /
          (vec_norm(col("embedding")) * vec_norm(col("cent_emb")))).as("cent_sim"))
    // bounded per-group pick (GroupedTopK's nProbe-row heap), then the
    // probe rank as a window over the SHORTLIST — at most nProbe rows
    // per vector, i.e. a sort of the result, never of N x nCells
    val short = graft.plans.GroupedTopK.topKPerKey(sims, Seq("vec_id"),
      Seq(("cent_sim", true), ("cent_id", false)), nProbe)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(desc("cent_sim"), asc("cent_id"))
    short.select(col("vec_id"), row_number().over(w).cast(LongType).as("rank"),
      col("cent_id").as("cell"))
  }

  /** The scale path for embedding near-dup pairs (the N² alternative to
    * cosineNearDupPairs): candidates are pairs co-bucketed in ANY of
    * `nTables` independent hyperplane-LSH tables (union + distinct —
    * only (bucket, vec_id) shuffles), then scored exactly and
    * thresholded. Misses only pairs split in every table: for cosine s
    * the per-table collision rate is (1 − acos(s)/π)^nPlanes, so
    * recall = 1 − (1 − that)^nTables. Defaults (4 planes × 8 tables)
    * target the LOW-threshold regime of the review corpus (all true
    * pairs sit at s ≈ 0.4-0.6, where 4 planes give ≈ 0.75 recall);
    * for production near-dup thresholds (s ≥ 0.85) use 12-16 planes —
    * buckets shrink exponentially in planes while recall stays high
    * (s = 0.9, 16 planes, 4 tables ≈ 0.92). */
  def cosineNearDupPairsLsh(emb: DataFrame, minSim: Double = 0.4, nPlanes: Int = 4,
                            dim: Int = 64, nTables: Int = 8): DataFrame = {
    // all nTables bucket keys come out of ONE corpus scan (explode of a
    // key array), and candidates come from ONE self-join on the
    // composite (table, bucket) key — not nTables separate join
    // subplans. Same pair set, one shuffle.
    val keys = (0 until nTables).map(t =>
      struct(lit(t).as("t"), bucketKey(nPlanes, dim, t).as("bucket")))
    val b = emb.select(col("vec_id"), explode(array(keys: _*)).as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val cand = b.as("x").join(b.as("y"),
        col("x.t") === col("y.t") && col("x.bucket") === col("y.bucket")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    val e = emb.select(col("vec_id"), col("embedding"), vec_norm(col("embedding")).as("nrm"))
    cand
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("nrm").as("n_a")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("nrm").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (vec_dot(col("emb_a"), col("emb_b")) / (col("n_a") * col("n_b"))).as("sim"))
      .where(col("sim") >= minSim)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim_r"))
  }

  /** EXACT-replayable distributed k-means over full vectors — Lloyd's
    * algorithm made bit-deterministic end to end, so the whole
    * clustering (not just its row count) sits behind the oracle hash
    * gate: deterministic init (the first k vectors, closed-form for
    * the twin), assignment by the squared-L2 surrogate
    * 2·x·c − |c|² ROUNDED to 6 dp with a min-code tie-break, and
    * centroid means accumulated as 10-dp DECIMALs (partition-order
    * independent) then rounded back to 10 dp. Empty clusters keep
    * their previous centroid.
    *
    * Scale shape per iteration: one broadcast of k centroids into the
    * corpus scan (no shuffle for assignment), one (code, dimension)
    * partial-aggregate shuffle for the means — the PageRank posture:
    * loop-invariant vectors localCheckpointed once, per-iteration
    * lineage truncation, iterated state is k·dim. Returns the final
    * (vec_id, code) assignment. */
  def kmeans(vecs: DataFrame, k: Int = 8, iters: Int = 3,
             idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val base = vecs.select(col(idCol).as("vec_id"),
      col(embCol).cast(ArrayType(DoubleType)).as("x")).truncateLineage
    def assign(cents: DataFrame): DataFrame = {
      val withC2 = cents.withColumn("c2", vec_dot(col("c"), col("c")))
      base.crossJoin(broadcast(withC2))
        .select(col("vec_id"),
          round(lit(2) * vec_dot(col("x"), col("c")) - col("c2"), 6).as("sc"),
          col("code"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("sc"), (-col("code")).as("negc"), col("code"))).as("b"))
        .select(col("vec_id"), col("b.code").as("code"))
    }
    var cents = base.where(col("vec_id") < k)
      .select(col("vec_id").cast(IntegerType).as("code"), col("x").as("c"))
    for (_ <- 1 to iters) {
      val means = assign(cents).join(base, "vec_id")
        .select(col("code"), posexplode(col("x")).as(Seq("pos", "v")))
        .groupBy(col("code"), col("pos"))
        .agg(round(sum(round(col("v"), 10).cast(DecimalType(28, 12))).cast(DoubleType) /
          count(lit(1)), 10).as("m"))
        .groupBy(col("code"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").as("cm"))
      cents = cents.join(means, Seq("code"), "left")
        .select(col("code"), coalesce(col("cm"), col("c")).as("c"))
        .truncateLineage
    }
    assign(cents)
  }

  /** Deterministic Lloyd (k-means) refinement of a code book, fully
    * relational — the quality step between a cheap stride-sampled init
    * and a production k-means|| init (Bahmani et al., VLDB 2012).
    * Each iteration: (1) argmax-score assignment of every sub-vector to
    * a code via a broadcast join + map-side partial aggregate (same
    * shape as query-time assignment — no window, no sort); (2) new
    * centroids as per-(code, dimension) means. Means accumulate in
    * DECIMAL so the result is independent of partition merge order
    * (double addition is not associative; decimal is) — refinement
    * stays bit-deterministic across runs, which the ANN determinism
    * specs rely on. Codes that lose all members keep their previous
    * centroid (standard empty-cluster handling, keeps codes dense).
    *
    * `subs`: (vec_id, j, sub) sub-vectors; `init`: (j, code, cent_sub);
    * `score`: higher = closer, must match query-time assignment metric.
    * At 100 TB each iteration is one broadcast join + two partial-agg
    * shuffles of (j, code, pos) rows — no N² anywhere; cache/checkpoint
    * `subs` upstream when iterating many times. */
  private def lloydRefine(subs: DataFrame, init: DataFrame, iters: Int,
                          score: (Column, Column, Column) => Column): DataFrame = {
    var cents = init.select(col("j"), col("code"),
      col("cent_sub").cast(ArrayType(DoubleType)).as("cent_sub"))
    for (_ <- 1 to iters) {
      // |c|² once per centroid on the broadcast side, not once per
      // (sub-vector, candidate) pair — halves the flops of the
      // assignment loop
      val withC2 = cents.withColumn("c2", vec_dot(col("cent_sub"), col("cent_sub")))
      val assigned = subs.join(broadcast(withC2), "j")
        .select(col("vec_id"), col("j"), col("sub"), col("code"),
          score(col("sub"), col("cent_sub"), col("c2")).as("sc"))
        .groupBy(col("vec_id"), col("j"))
        .agg(max(struct(col("sc"), (-col("code")).as("negc"), col("code"), col("sub"))).as("best"))
        .select(col("j"), col("best.code").as("code"), col("best.sub").as("sub"))
      val means = assigned
        .select(col("j"), col("code"), posexplode(col("sub")).as(Seq("pos", "v")))
        .groupBy(col("j"), col("code"), col("pos"))
        .agg((sum(col("v").cast(DecimalType(24, 10))) / count(lit(1))).cast(DoubleType).as("m"))
        .groupBy(col("j"), col("code"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").as("new_sub"))
      cents = cents.join(means, Seq("j", "code"), "left")
        .select(col("j"), col("code"),
          coalesce(col("new_sub"), col("cent_sub")).as("cent_sub"))
    }
    cents
  }

  /** Nearest coarse centroid(s) per vector (normalized data: max dot =
    * nearest). n == 1 is an AGGREGATE instead of a row_number window: a
    * window would sort-shuffle the full N x nCells candidate table,
    * while groupBy partial-aggregates it to N rows map-side before any
    * exchange. n > 1 goes through the engine's own GroupedTopK physical
    * operator — a bounded n-row heap per vector with map-side partial
    * reduction — so per-group aggregation state is n rows regardless of
    * nCells (the old collect_list held EVERY cell's sim per vector,
    * which grows with the centroid count). Ordering is desc(cent_sim)
    * with asc(cent_id) tie-break. `cents`: (cent_id, cent_emb),
    * broadcast. Output: (vec_id, embedding, cell) — one row per
    * assigned cell. */
  private def coarseAssign(df: DataFrame, cents: DataFrame, n: Int): DataFrame = {
    // norms hoisted out of the per-(vector, centroid) pair loop
    // (optimization r17): the old shape recomputed vec_norm(embedding)
    // kCent times per vector and vec_norm(cent_emb) once per PAIR —
    // both are per-ROW constants. Same IEEE ops on the same operands
    // (dot / (nrm_v · nrm_c)), so cent_sim is bit-identical.
    val sims = df.withColumn("__vnrm", vec_norm(col("embedding")))
      .join(broadcast(cents.withColumn("__cnrm", vec_norm(col("cent_emb")))))
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        (vec_dot(col("embedding"), col("cent_emb")) /
          (col("__vnrm") * col("__cnrm"))).as("cent_sim"))
    if (n == 1)
      sims.groupBy(col("vec_id"))
        .agg(max(struct(col("cent_sim"), (-col("cent_id")).as("neg_id"),
          col("cent_id"), col("embedding"))).as("m"))
        .select(col("vec_id"), col("m.embedding").as("embedding"), col("m.cent_id").as("cell"))
    else
      graft.plans.GroupedTopK.topKPerKey(sims, Seq("vec_id"),
          Seq(("cent_sim", true), ("cent_id", false)), n)
        .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
  }

  /** Fixed-cardinality stride centroids: the stride points inside the
    * id window [0, step·kCent), so the centroid set is AT MOST `kCent`
    * rows no matter how large the corpus grows — the same bounded-
    * codebook posture as pqCodebooks, derived as a pure pushdown filter
    * (no window, no sort). With dense vec_ids and N ≥ step·kCent the
    * count is exactly kCent; a sparser id space just yields fewer
    * cells. This is what keeps the centroid broadcast and the per-
    * vector probe aggregation O(kCent) at 100x the corpus, where the
    * old uncapped `vec_id % step == 0` grew both linearly with N. */
  private def strideCentroids(emb: DataFrame, step: Int, kCent: Int): DataFrame =
    emb.where(col("vec_id") % step === 0 && col("vec_id") < step.toLong * kCent)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))

  /** Bounded AND distribution-spanning coarse centroids for the
    * IVF×PQ family: the `k` stride points with the SMALLEST
    * xxhash64(vec_id) (vec_id tie-break). [[strideCentroids]]' id
    * window is the cheaper cap but has an append blind spot — new
    * vectors arrive at HIGH ids, so a rebuild under an id window could
    * never seed centroids inside a drifted batch's mode, which is the
    * whole point of ivfPqMaintain's retrain. Hash ranking keeps every
    * id range eligible forever while the centroid set stays ≤ k.
    * Plans as TakeOrderedAndProject: per-partition bounded heaps + one
    * k-sized merge — no global sort, state O(k) per partition at any
    * corpus size. At every shipped fixture the stride count is below
    * the cap, so the rank is provably a no-op and the DuckDB twins
    * replay the plain stride rule behind a LOUD regime guard
    * (error() past the cap) instead of mis-replaying silently;
    * SimilaritySpec pins the small-k selection against an independent
    * xxhash64 ranking. */
  private def hashRankedCentroids(emb: DataFrame, step: Int, k: Int): DataFrame =
    emb.where(col("vec_id") % step === 0)
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))

  /** IVF-style ANN: a deterministic coarse quantizer (stride-sampled
    * init capped at `kCent` centroids — see strideCentroids — plus
    * `refineIters` Lloyd iterations, see lloydRefine) assigns each
    * vector to its nearest centroid; queries probe only the `nProbe`
    * nearest cells. The inverted-file analog of lshTopK: candidate
    * cost drops from O(Q x N) to O(Q x N x nProbe / nCells).
    * Centroid assignment is one broadcast join of an O(kCent) centroid
    * set (bounded even at 100x the corpus) through coarseAssign's
    * bounded per-group pick; the cell join is an equi-join on cell
    * id — shuffle on an int key only. */
  def ivfTopK(emb: DataFrame, step: Int = 50, nProbe: Int = 4, k: Int = 10,
              refineIters: Int = 0, kCent: Int = 64): DataFrame = {
    val cents0 = strideCentroids(emb, step, kCent)
    // refine with the SAME metric query-time assignment uses (cosine;
    // the sub-vector's own norm is constant per argmax group, so it is
    // dropped from the score). Default is NO refinement: measured on
    // the synthetic (near-uniform) corpus, Lloyd-balanced cells spread
    // each query's true neighbors across MORE cells, so fixed-nProbe
    // recall drops (0.81 → 0.76 at nProbe=3). On naturally clustered
    // embeddings refinement tightens cells around real modes — enable
    // it there.
    val cents =
      if (refineIters <= 0) cents0
      else lloydRefine(
        emb.select(col("vec_id"), lit(0).as("j"), col("embedding").as("sub")),
        cents0.select(lit(0).as("j"), col("cent_id").as("code"), col("cent_emb").as("cent_sub")),
        refineIters,
        (s, c, c2) => vec_dot(s, c) / sqrt(c2))
        .select(col("code").as("cent_id"), col("cent_sub").as("cent_emb"))
    val corpus = coarseAssign(emb, cents, 1) // each corpus vector lives in ONE cell
      .withColumn("nrm", vec_norm(col("embedding")))
    val queries = coarseAssign(emb, cents, nProbe) // each query probes nProbe cells
      .withColumn("nrm", vec_norm(col("embedding")))
    val pairs = queries.as("q").join(corpus.as("c"),
        col("q.cell") === col("c.cell") && col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("c_id"),
        (vec_dot(col("q.embedding"), col("c.embedding")) / (col("q.nrm") * col("c.nrm"))).as("sim"))
      .groupBy(col("q_id"), col("c_id")).agg(max(col("sim")).as("sim")) // dedupe multi-cell hits
    rankTopK(pairs, k)
  }

  /** Product-quantization ANN (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", PAMI 2011): the embedding is split into
    * `m` subspaces, each quantized to one of `kCent` centroids, so a
    * vector compresses to m small codes (m bytes at kCent <= 256) —
    * at 100 TB this is what makes the index fit: 256-byte float
    * vectors become 8-byte codes, and query scoring touches ONLY the
    * codes (asymmetric distance: per query, an m x kCent table of
    * subspace dot products is built once, then every corpus vector
    * costs m table lookups instead of a full dim-wide dot product).
    *
    * Fully relational and deterministic: code books start from the
    * first kCent stride-sampled vectors, optionally tightened with
    * `refineIters` Lloyd iterations per subspace (lloydRefine, trained
    * on a 1/trainStride sample); encoding is a broadcast join + max_by
    * argmin, scoring is one codegen'd ADC lookup-sum per (query,
    * corpus) pair. No driver-side collect anywhere.
    *
    * Measured defaults (synthetic near-uniform corpus, recall@5 vs
    * brute force): m=16 × kCent=48 lifts recall to ≈0.50 from the old
    * 8×16 book's 0.20 at ~1.1× the runtime — resolution, not codebook
    * quality, is the binding constraint on unclustered data, so Lloyd
    * defaults OFF (it adds ≈+0.02 recall here but a fixed ~2s of
    * iterative-plan latency). On naturally clustered embeddings turn
    * refineIters up: that is where k-means codebooks earn their keep,
    * and training cost is sample-sized, not corpus-sized. */
  private def pqSubspaces(df: DataFrame, m: Int, subDim: Int): DataFrame = df
    .select(col("vec_id"), explode(array((0 until m).map(j =>
      struct(lit(j).as("j"), slice(col("embedding"), j * subDim + 1, subDim).as("sub"))): _*)).as("s"))
    .select(col("vec_id"), col("s.j").as("j"), col("s.sub").as("sub"))

  /** Per-subspace code books: (j, code, cent_sub). Code books reuse the
    * same subspace slicing as corpus/query encoding — the two MUST
    * agree or codes and tables silently mismatch. Codes are a DENSE
    * rank over the sampled centroids, not vec_id/step: ADC scoring
    * indexes the lookup arrays by code (element_at(t, c+1)), so codes
    * must be contiguous 0..n-1 even when vec_ids have gaps (vec_id/step
    * would silently mis-index — null sims under non-ANSI). The rank
    * window only sees the sampled rows (N/step of them), so the
    * single-partition sort is tiny.
    *
    * Optional Lloyd refinement uses the SAME L2 metric encoding uses:
    * score = 2 s·c − c·c (the |s|² term is constant per argmax group,
    * so argmax(score) = argmin L2 distance). Training runs on a
    * 1/trainStride deterministic sample — the 100 TB posture: the
    * codebook is trained on a sample (quality is statistically
    * identical), and the FULL corpus is touched exactly once, by the
    * final encode pass. */
  private def pqCodebooks(emb: DataFrame, step: Int, m: Int, kCent: Int, subDim: Int,
                          refineIters: Int, trainStride: Int): DataFrame = {
    // first kCent stride points by vec_id, code = rank. Bounded-state
    // form (round 13): orderBy+limit plans as TakeOrderedAndProject —
    // a kCent-row heap per partition + one kCent-sized merge — where
    // the old row_number window sort-shuffled EVERY stride point to a
    // single task before the cap. The rank window then runs over the
    // kCent-row result only; selection and codes are IDENTICAL, so
    // the twins' dense-rank replay is untouched.
    val cents0 = pqSubspaces(
        emb.where(col("vec_id") % step === 0)
          .select(col("vec_id"), col("embedding"))
          .orderBy(col("vec_id")).limit(kCent)
          .withColumn("code", row_number().over(Window.orderBy(col("vec_id"))) - 1)
          .select(col("code").cast("long").as("vec_id"), col("embedding")), m, subDim)
      .select(col("j"), col("vec_id").cast("int").as("code"), col("sub").as("cent_sub"))
    if (refineIters <= 0) cents0
    else lloydRefine(pqSubspaces(emb.where(col("vec_id") % trainStride === 0), m, subDim),
      cents0, refineIters,
      (s, c, c2) => vec_dot(s, c) * 2.0 - c2)
  }

  /** PQ-encode every vector: (vec_id, codes[m]). Per (vector, subspace)
    * the argmin-distance centroid code; |s - c|^2 = |s|^2 - 2 s·c +
    * |c|^2 and |s|^2 is constant per (vector, subspace), so argmin over
    * (-2 s·c + |c|^2) suffices; |c|^2 is precomputed per centroid on
    * the broadcast side. */
  private def pqEncode(emb: DataFrame, cents: DataFrame, m: Int, subDim: Int): DataFrame =
    pqSubspaces(emb, m, subDim)
      .join(broadcast(cents.withColumn("c2", vec_dot(col("cent_sub"), col("cent_sub")))), "j")
      .select(col("vec_id"), col("j"), col("code"),
        (vec_dot(col("sub"), col("cent_sub")) * -2.0 + col("c2")).as("d"))
      .groupBy(col("vec_id"), col("j"))
      .agg(max(struct((lit(0.0) - col("d")).as("negd"), (-col("code")).as("negc"), col("code"))).as("best"))
      .select(col("vec_id"), col("j"), col("best.code").as("code"))
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(j, code))), s -> s.code)").as("codes"))

  /** pq_topk's EXACT shadow (the ivf_cells device applied to the code
    * relation): every vector's per-subspace PQ code under the frozen
    * stride codebook, in long (vec_id, j, code) form — closed-form for
    * the SQL twin because the default codebook is the first kCent
    * stride vectors' subvectors (dense-ranked by vec_id) and encoding
    * is an argmin of −2·s·c + |c|² with a min-code tie-break. A
    * drifted codebook, a lost subspace, or an unstable argmin all
    * unhash it while the ADC top-k answers stay rows-only. */
  def pqCodeRelation(emb: DataFrame, step: Int = 50, m: Int = 16,
                     kCent: Int = 48, dim: Int = 64): DataFrame = {
    val subDim = dim / m
    require(m * subDim == dim, s"m=$m must divide dim=$dim")
    val books = pqCodebooks(emb, step, m, kCent, subDim, refineIters = 0, trainStride = 5)
    pqSubspaces(emb, m, subDim)
      .join(broadcast(books.withColumn("c2", vec_dot(col("cent_sub"), col("cent_sub")))), "j")
      .select(col("vec_id"), col("j"), col("code"),
        (vec_dot(col("sub"), col("cent_sub")) * -2.0 + col("c2")).as("d"))
      .groupBy(col("vec_id"), col("j"))
      .agg(max(struct((lit(0.0) - col("d")).as("negd"), (-col("code")).as("negc"), col("code"))).as("best"))
      .select(col("vec_id"), col("j").cast(LongType).as("j"),
        col("best.code").cast(LongType).as("code"))
  }

  /** Per query: the m x kCent asymmetric-distance table of subspace
    * dots, as (q_id, tables[m][kCent]). */
  private def pqQueryTables(queries: DataFrame, cents: DataFrame, m: Int, subDim: Int): DataFrame =
    pqSubspaces(queries, m, subDim)
      .join(broadcast(cents), "j")
      .select(col("vec_id").as("q_id"), col("j"), col("code"),
        vec_dot(col("sub"), col("cent_sub")).as("dot"))
      .groupBy(col("q_id"), col("j"))
      .agg(expr("transform(array_sort(collect_list(struct(code, dot))), s -> s.dot)").as("dots"))
      .groupBy(col("q_id"))
      .agg(expr("transform(array_sort(collect_list(struct(j, dots))), s -> s.dots)").as("tables"))

  def pqTopK(emb: DataFrame, step: Int = 50, m: Int = 16, kCent: Int = 48,
             dim: Int = 64, qStride: Int = 50, k: Int = 10,
             refineIters: Int = 0, trainStride: Int = 5): DataFrame = {
    val subDim = dim / m
    require(m * subDim == dim, s"m=$m must divide dim=$dim")
    val cents = pqCodebooks(emb, step, m, kCent, subDim, refineIters, trainStride)
    val codes = pqEncode(emb, cents, m, subDim)
    val qtab = pqQueryTables(emb.where(col("vec_id") % qStride === 0), cents, m, subDim)
    // ADC scoring: sim(q, v) ≈ Σ_j tables[j][codes[j]] (normalized data:
    // the quantized dot product approximates cosine). vec_adc_score is
    // a codegen'd Expression: the scan is queries × corpus rows, and
    // the interpreted HOF formulation it replaces was the single
    // hottest loop in the whole query.
    val scored = codes.crossJoin(broadcast(qtab))
      .where(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        vec_adc_score(col("tables"), col("codes")).as("sim"))
    rankTopK(scored, k)
  }

  /** Candidate pairs of the composed IVF×PQ index: queries probe their
    * `nProbe` nearest coarse cells and meet only the corpus vectors
    * assigned there. Exposed separately so the candidate count — the
    * quantity the composition exists to cut — is directly measurable
    * (SimilaritySpec asserts on it; a wall-clock assert would be
    * flaky). Output: (q_id, c_id, cell) — each corpus vector lives in
    * one cell, so no dedup is needed, and the cell rides along so
    * scoring can pick the matching per-cell ADC table. */
  def ivfPqCandidates(emb: DataFrame, coarseStep: Int = 25, nProbe: Int = 4,
                      qStride: Int = 50): DataFrame = {
    val coarse = emb.where(col("vec_id") % coarseStep === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
    val corpusCells = coarseAssign(emb, coarse, 1).select(col("vec_id"), col("cell"))
    val queryCells = coarseAssign(emb.where(col("vec_id") % qStride === 0), coarse, nProbe)
      .select(col("vec_id").as("q_id"), col("cell"))
    queryCells.join(corpusCells, Seq("cell"))
      .where(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("c_id"), col("cell"))
  }

  /** IVF×PQ — the production 100 TB ANN shape (Jégou et al. 2011, §IV,
    * with residual encoding and exact re-ranking): the coarse inverted
    * file prunes WHERE to look (nProbe of nCells cells ⇒ candidate
    * cost drops by ≈ nProbe/nCells), PQ quantizes each vector's
    * RESIDUAL v − centroid(cell), ADC shortlists `rerank·k` candidates
    * per query from codes alone, and only the shortlist touches the
    * original vectors for an exact cosine re-rank — the three-stage
    * funnel every production ANN service runs (cells → codes →
    * verify).
    *
    * ADC scoring is L2 (rank-equivalent to cosine on normalized data):
    * per (query, probed cell) an m×kCent table of exact
    * ||q_res_sub − cent||² terms, then each candidate costs m lookups
    * summed by the codegen'd vec_adc_score. The |s|² term stays in the
    * table — it differs per probed cell, and dropping it would break
    * cross-cell comparability of a query's candidates. All shuffles
    * move (cell, vec_id) ints and m-byte code arrays; centroids,
    * per-query tables and the shortlist broadcast.
    *
    * Geometry note, measured on the near-uniform synthetic corpus:
    * MANY SMALL cells beat few large ones at equal scan fraction —
    * 50 cells/probe 12 captures 0.90 of true neighbors in 23% of
    * pairs, while 20 cells/probe 4 captures 0.49 in 19% — so the
    * defaults lean fine (coarseStep=10). The re-rank stage is what
    * lifts end recall above full-scan PQ: quantization noise decides
    * only WHO enters the shortlist, never the final order. */
  /** The persisted form of the IVF×PQ index: four relations. `cells`
    * (vec_id → cell) and `codes` (vec_id → m PQ codes) are
    * corpus-sized but narrow — the 8-byte-per-vector posture that
    * makes a 100 TB index fit; `coarseCents` (cell → centroid) and
    * `books` (j, code → sub-centroid) are tiny broadcast tables. */
  final case class IvfPqIndex(cells: DataFrame, codes: DataFrame,
                              coarseCents: DataFrame, books: DataFrame,
                              m: Int, subDim: Int)

  /** Build the IVF×PQ index relations from a corpus — the pay-once
    * half of the lifecycle (write with [[ivfPqWrite]], reload with
    * [[ivfPqRead]], query with [[ivfPqQuery]]). Assignments are
    * consumed by multiple plan branches (codebook training, encoding,
    * candidate generation) — localCheckpoint materializes them once
    * (the Dedup.jaccardPairs pattern). */
  def ivfPqBuild(emb: DataFrame, coarseStep: Int = 10, step: Int = 50,
                 m: Int = 16, kCent: Int = 48, dim: Int = 64,
                 kCoarse: Int = 256): IvfPqIndex = {
    val subDim = dim / m
    require(m * subDim == dim, s"m=$m must divide dim=$dim")
    val cellCent = hashRankedCentroids(emb, coarseStep, kCoarse)
      .select(col("cent_id").as("cell"), col("cent_emb"))
    val asCents = cellCent.select(col("cell").as("cent_id"), col("cent_emb"))
    val corpusAssigned = coarseAssign(emb, asCents, 1).truncateLineage
    // corpus: one cell per vector; PQ code books train on and encode
    // the residuals (the codebook stride-samples inside pqCodebooks)
    val corpusRes = corpusAssigned
      .join(broadcast(cellCent), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("cent_emb"), (a, b) => a - b).as("embedding"))
    val books = pqCodebooks(corpusRes.select(col("vec_id"), col("embedding")),
      step, m, kCent, subDim, refineIters = 0, trainStride = 5)
    val codes = pqEncode(corpusRes.select(col("vec_id"), col("embedding")), books, m, subDim)
    IvfPqIndex(corpusAssigned.select(col("vec_id"), col("cell")), codes, cellCent, books, m, subDim)
  }

  /** Incremental index append — the ingest half of the ANN lifecycle:
    * fold a batch of NEW vectors into an existing index WITHOUT
    * retraining. Centroids and code books are frozen (the production
    * posture: appends reuse the trained geometry; a periodic rebuild
    * absorbs distribution drift), so the batch only pays one coarse
    * assignment against the broadcast centroids and one residual PQ
    * encode — both map-side over the batch, independent of index size.
    * Cells and codes relations grow by exactly the batch. */
  /** The append's unit of work, exposed on its own for the STREAMING
    * ingest (graft.streaming.VectorIngest): the batch's (cells, codes)
    * under the index's frozen geometry — one broadcast coarse
    * assignment, one residual PQ encode, nothing that reads the
    * index's own cells/codes relations. [[ivfPqAppend]] is exactly
    * these rows unioned onto the index. */
  def ivfPqEncodeBatch(index: IvfPqIndex, newVecs: DataFrame): (DataFrame, DataFrame) = {
    val asCents = index.coarseCents.select(col("cell").as("cent_id"), col("cent_emb"))
    val assigned = coarseAssign(newVecs, asCents, 1).truncateLineage
    (assigned.select(col("vec_id"), col("cell")),
      encodeAssigned(assigned, index.coarseCents, index.books, index.m, index.subDim))
  }

  /** Residual PQ encode of an already coarse-assigned batch — the
    * shared back half of [[ivfPqEncodeBatch]] and
    * [[ivfPqEncodeBatchWithDrift]]. */
  private def encodeAssigned(assigned: DataFrame, cents: DataFrame, books: DataFrame,
                             m: Int, subDim: Int): DataFrame = {
    val res = assigned
      .join(broadcast(cents), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("cent_emb"), (a, b) => a - b).as("embedding"))
    pqEncode(res.select(col("vec_id"), col("embedding")), books, m, subDim)
  }

  /** The streaming append's whole batch unit under geometry the CALLER
    * read and pinned once per stream (optimization r18): cells, codes
    * AND the drift decision off ONE pinned coarse assignment —
    * [[ivfPqEncodeBatch]] + [[appendDrift]] previously assigned the
    * batch against the centroids twice and re-read every index
    * relation per micro-batch. Values are identical: the drift
    * energies aggregate the same per-vector assignment the encode
    * uses. */
  def ivfPqEncodeBatchWithDrift(batch: DataFrame, cents: DataFrame, books: DataFrame,
                                baseline: DataFrame, m: Int, dim: Int,
                                threshold: Double, minBatchPerCell: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val subDim = dim / m
    require(m * subDim == dim, s"m=$m must divide dim=$dim")
    val asCents = cents.select(col("cell").as("cent_id"), col("cent_emb"))
    val assigned = coarseAssign(batch, asCents, 1).truncateLineage
    val codes = encodeAssigned(assigned, cents, books, m, subDim)
    val drift = driftFromEnergy(residualEnergyFromAssigned(assigned, cents),
      baseline, threshold, minBatchPerCell)
    (assigned.select(col("vec_id"), col("cell")), codes, drift)
  }

  def ivfPqAppend(index: IvfPqIndex, newVecs: DataFrame): IvfPqIndex = {
    val (cellsNew, codesNew) = ivfPqEncodeBatch(index, newVecs)
    IvfPqIndex(
      index.cells.unionAll(cellsNew),
      index.codes.unionAll(codesNew),
      index.coarseCents, index.books, index.m, index.subDim)
  }

  /** Per-cell mean residual energy of `vecs` under the index's frozen
    * geometry: assign each vector to its nearest coarse centroid and
    * average ||v − centroid||² per cell. This is exactly the quantity
    * the PQ codes' accuracy depends on — the code books were trained on
    * build-time residuals, so when a cell's residual energy grows, its
    * codes quantize coarser and ADC ranking degrades FOR THAT CELL.
    * One map-side pass (centroids broadcast), one int-keyed agg. */
  def cellResidualEnergy(index: IvfPqIndex, vecs: DataFrame): DataFrame = {
    val asCents = index.coarseCents.select(col("cell").as("cent_id"), col("cent_emb"))
    residualEnergyFromAssigned(coarseAssign(vecs, asCents, 1), index.coarseCents)
  }

  /** The energy aggregate over already coarse-assigned rows — shared
    * by [[cellResidualEnergy]] and [[ivfPqEncodeBatchWithDrift]] (the
    * streaming path reuses the encode's pinned assignment instead of
    * assigning the batch twice). */
  private def residualEnergyFromAssigned(assigned: DataFrame, cents: DataFrame): DataFrame =
    assigned
      .join(broadcast(cents), "cell")
      // per-vector energy rounded(9) and DECIMAL-summed, mean as ONE
      // final division — a raw avg() of doubles is partition-order-
      // dependent, which both unhashes the drift twin and makes the
      // rebuild trigger itself nondeterministic across shuffles
      .select(col("cell"),
        round(vec_dot(zip_with(col("embedding"), col("cent_emb"), (a, b) => a - b),
          zip_with(col("embedding"), col("cent_emb"), (a, b) => a - b)), 9)
          .cast(DecimalType(38, 9)).as("e2"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        (sum(col("e2")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("mean_energy"))

  /** Drift measurement for the append path — the rebuild trigger that
    * [[ivfPqAppend]]'s "periodic rebuild absorbs distribution drift"
    * contract needs as a tested operator, not a comment: compare an
    * append batch's per-cell residual energy against a baseline
    * (compute it over the corpus at build time, persist it next to the
    * index). Emits one row per batch-touched cell with the energy
    * ratio and the threshold decision; `rebuild = true` on any cell
    * with meaningful mass is the "stop appending, retrain" signal.
    * Cost: the same one broadcast-assign pass as an append itself —
    * drift monitoring rides the ingest, no extra corpus scan. */
  def appendDrift(index: IvfPqIndex, baseline: DataFrame, batch: DataFrame,
                  threshold: Double = 1.5, minBatchPerCell: Long = 4L): DataFrame =
    driftFromEnergy(cellResidualEnergy(index, batch), baseline, threshold, minBatchPerCell)

  /** The threshold decision over a per-cell energy relation — the
    * shared back half of [[appendDrift]]. */
  private def driftFromEnergy(energy: DataFrame, baseline: DataFrame,
                              threshold: Double, minBatchPerCell: Long): DataFrame =
    energy
      .select(col("cell"), col("n").as("n_batch"), col("mean_energy").as("batch_energy"))
      .join(broadcast(baseline.select(col("cell"), col("mean_energy").as("base_energy"))),
        Seq("cell"))
      .select(col("cell"), col("n_batch"),
        (col("batch_energy") / col("base_energy")).as("drift_ratio"),
        (col("n_batch") >= minBatchPerCell &&
          col("batch_energy") / col("base_energy") >= threshold).as("rebuild"))

  /** The drift-GATED maintenance step that closes the append lifecycle:
    * [[appendDrift]] decides, this operator acts. An in-distribution
    * batch folds in with [[ivfPqAppend]] (frozen geometry, map-side
    * cost); a batch that trips the trigger forces the RETRAIN the
    * append path's frozen-geometry contract defers — coarse centroids
    * and code books rebuilt over corpus ∪ batch, everything re-encoded,
    * and the baseline energies refreshed so the next drift check
    * compares against the new geometry. The decision itself is one
    * driver-side boolean off a cell-count-sized aggregate (the
    * bloomSemiFilter class of driver touch, not row-scale).
    *
    * At 100 TB the asymmetry is the point: appends are
    * batch-sized, rebuilds are corpus-sized — so the trigger's job is
    * to make the expensive path RARE and measured rather than periodic
    * and blind. Returns (updated index, baseline to carry forward,
    * whether a rebuild happened). */
  def ivfPqMaintain(index: IvfPqIndex, baseline: DataFrame,
                    corpusVectors: DataFrame, batch: DataFrame,
                    threshold: Double = 1.5, minBatchPerCell: Long = 4L,
                    coarseStep: Int = 10, step: Int = 50, kCent: Int = 48,
                    kCoarse: Int = 256)
      : (IvfPqIndex, DataFrame, Boolean) = {
    val tripped = !appendDrift(index, baseline, batch, threshold, minBatchPerCell)
      .where(col("rebuild")).isEmpty
    if (!tripped) (ivfPqAppend(index, batch), baseline, false)
    else {
      // project both sides to the vector core first: callers may carry
      // extra columns (labels, payloads) on either input
      val all = corpusVectors.select(col("vec_id"), col("embedding"))
        .unionByName(batch.select(col("vec_id"), col("embedding")))
      val dim = index.m * index.subDim
      val rebuilt = ivfPqBuild(all, coarseStep, step, index.m, kCent, dim, kCoarse)
      (rebuilt, cellResidualEnergy(rebuilt, all), true)
    }
  }

  /** Persist the index as four parquet relations under `dir`, dropping its grown batches. */
  def ivfPqWrite(index: IvfPqIndex, dir: String): Unit = {
    graft.sources.FsUtil.deleteRecursively(new java.io.File(graft.streaming.VectorIngest.grown(dir).dir))
    index.cells.write.mode("overwrite").parquet(s"$dir/cells")
    index.codes.write.mode("overwrite").parquet(s"$dir/codes")
    index.coarseCents.write.mode("overwrite").parquet(s"$dir/coarse_cents")
    index.books.write.mode("overwrite").parquet(s"$dir/books")
  }

  /** Reload a persisted index — the amortized half of the lifecycle:
    * query batches run against these relations without touching the
    * build path (or, for cells/codes, the original vectors). */
  def ivfPqRead(spark: SparkSession, dir: String, m: Int = 16, dim: Int = 64): IvfPqIndex = {
    val subDim = dim / m
    IvfPqIndex(spark.read.parquet(s"$dir/cells"), spark.read.parquet(s"$dir/codes"),
      spark.read.parquet(s"$dir/coarse_cents"), spark.read.parquet(s"$dir/books"), m, subDim)
  }

  /** Read an index whose cells/codes GREW under the streaming ingest:
    * the [[ivfPqRead]] relations plus every batch in the index's
    * [[graft.streaming.VectorIngest.grown]] store. */
  def ivfPqReadGrown(spark: SparkSession, dir: String, m: Int = 16, dim: Int = 64): IvfPqIndex = {
    val seed = ivfPqRead(spark, dir, m, dim)
    val grown = graft.streaming.VectorIngest.grown(dir)
    def withGrown(rel: DataFrame, name: String) =
      rel.unionByName(grown.all(spark, name, ifEmpty = Some(rel.schema)))
    seed.copy(cells = withGrown(seed.cells, "cells"), codes = withGrown(seed.codes, "codes"))
  }

  /** Query an IVF×PQ index (in-memory or reloaded): probe → ADC
    * shortlist → exact re-rank. `corpusVectors` is the primary vector
    * store the exact-verify stage reads (only rerank·k rows per
    * query); everything else touches index relations alone. */
  def ivfPqQuery(index: IvfPqIndex, queries: DataFrame, corpusVectors: DataFrame,
                 nProbe: Int = 12, k: Int = 10, rerank: Int = 4): DataFrame = {
    val (m, subDim) = (index.m, index.subDim)
    val cellCent = index.coarseCents
    val asCents = cellCent.select(col("cell").as("cent_id"), col("cent_emb"))
    val queryAssigned = coarseAssign(queries, asCents, nProbe).truncateLineage
    val cents = index.books
    val codes = index.codes
    // queries: a residual PER PROBED CELL, each with its own L2 table
    val qres = queryAssigned
      .join(broadcast(cellCent), "cell")
      .select(col("vec_id").as("q_id"), col("cell"),
        zip_with(col("embedding"), col("cent_emb"), (a, b) => a - b).as("res"))
    val qsub = qres.select(col("q_id"), col("cell"), explode(array((0 until m).map(j =>
        struct(lit(j).as("j"), slice(col("res"), j * subDim + 1, subDim).as("sub"))): _*)).as("s"))
      .select(col("q_id"), col("cell"), col("s.j").as("j"), col("s.sub").as("sub"))
    val qtab = qsub
      .withColumn("s2", vec_dot(col("sub"), col("sub")))
      .join(broadcast(cents.withColumn("c2", vec_dot(col("cent_sub"), col("cent_sub")))), "j")
      .select(col("q_id"), col("cell"), col("j"), col("code"),
        (col("s2") - vec_dot(col("sub"), col("cent_sub")) * 2.0 + col("c2")).as("term"))
      .groupBy(col("q_id"), col("cell"), col("j"))
      .agg(expr("transform(array_sort(collect_list(struct(code, term))), s -> s.term)").as("terms"))
      .groupBy(col("q_id"), col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(j, terms))), s -> s.terms)").as("tables"))
    // candidates: probed cells × the index's inverted file (the
    // standalone ivfPqCandidates re-derives assignments for the spec's
    // counted metric; this path reads the index relation)
    val cand = queryAssigned.select(col("vec_id").as("q_id"), col("cell"))
      .join(index.cells, Seq("cell"))
      .where(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("c_id"), col("cell"))
    val scored = cand
      .join(codes.withColumnRenamed("vec_id", "c_id"), "c_id")
      .join(broadcast(qtab), Seq("q_id", "cell"))
      .select(col("q_id"), col("c_id"),
        vec_adc_score(col("tables"), col("codes")).as("dist"))
    // ADC shortlist: rerank·k per query, from codes alone. This is the
    // engine's own GroupedTopK physical operator, not a row_number
    // window: a bounded k·rerank heap per query with map-side partial
    // reduction, so candidates never fully sort and the exchange moves
    // at most k·rerank rows per (partition, query) — the right shape
    // when nProbe cells make the per-query candidate set large.
    val shortlist = graft.plans.GroupedTopK.topKPerKey(
        scored, Seq("q_id"), Seq(("dist", false), ("c_id", false)), k * rerank)
      .select(col("q_id"), col("c_id"))
    // exact verify: only the bounded shortlist (nQueries · rerank·k
    // rows) reads original vectors — broadcast as the build side so
    // the corpus-side join is shuffle-free
    val e = corpusVectors.select(col("vec_id"), col("embedding"), vec_norm(col("embedding")).as("nrm"))
    val qe = queries.select(col("vec_id").as("q_id"), col("embedding").as("qe"),
      vec_norm(col("embedding")).as("qn"))
    val withQ = shortlist.join(qe, "q_id")
    val rescored = e.select(col("vec_id").as("c_id"), col("embedding").as("ce"), col("nrm").as("cn"))
      .join(broadcast(withQ), "c_id")
      .select(col("q_id"), col("c_id"),
        (vec_dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("sim"))
    rankTopK(rescored, k)
  }

  /** IVF×PQ — the composed production funnel as ONE call: build the
    * index in-memory, query it with the stride-sampled query set. See
    * ivfPqBuild/ivfPqWrite/ivfPqRead/ivfPqQuery for the persisted
    * lifecycle a real deployment runs (index built once, query batches
    * amortized against the parquet relations — SimilaritySpec proves
    * the reloaded index answers identically). */
  def ivfPqTopK(emb: DataFrame, coarseStep: Int = 10, nProbe: Int = 12,
                step: Int = 50, m: Int = 16, kCent: Int = 48, dim: Int = 64,
                qStride: Int = 50, k: Int = 10, rerank: Int = 4): DataFrame = {
    val index = ivfPqBuild(emb, coarseStep, step, m, kCent, dim)
    ivfPqQuery(index, emb.where(col("vec_id") % qStride === 0), emb, nProbe, k, rerank)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with a cheap coarse
    * quantizer, then compare pairs ONLY within a cluster — the pairwise
    * cost drops from O(N²) to Σ|cell|², the whole point of the method
    * (cross-cell near-dups are the accepted approximation; the spec
    * bounds what it misses against the brute-force pair set).
    *
    * This variant is fully deterministic so it can be hash-checked
    * end-to-end against a SQL twin: centroids are stride-sampled
    * (vec_id % step = 0, the same device the IVF quantizer uses),
    * assignment is argmax cosine with centroid-id tie-break, and the
    * survivor rule is greedy min-id — a vector is DROPPED iff some
    * smaller-id vector in the same cell has cosine ≥ tau. One broadcast
    * join (centroids), one within-cell self-join, no iteration. The
    * transitive-closure variant is `nearDupClusters` over these same
    * pair edges when group-level semantics are needed.
    *
    * At 100 TB: assignment is map-side (centroids broadcast); the
    * self-join shuffles on `cell`, and cell sizes are governed by the
    * centroid count (step) — skewed cells are the known failure mode,
    * handled the same way as any skewed join key (AQE skew split).
    * Output: (vec_id, cell, kept) for every vector. */
  def semanticDedup(emb: DataFrame, step: Int = 40, tau: Double = 0.4): DataFrame = {
    val cents = emb.where(col("vec_id") % step === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
    // materialize once: the assignment feeds both self-join sides and
    // the final projection (same device as Dedup.jaccardPairs)
    val asg = coarseAssign(emb, cents, 1).truncateLineage
    val a = asg.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), vec_norm(col("embedding")).as("n_a"))
    val b = asg.select(col("cell").as("cell_b"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), vec_norm(col("embedding")).as("n_b"))
    // the tau gate compares ROUNDED cosine (12 decimals) so a pair
    // sitting within ULPs of the threshold cannot flip between engines
    // whose float accumulation orders differ (the twin mirrors the
    // round). The argmax ASSIGNMENT keeps raw floats: centroid sims are
    // separated by the data, not the threshold, and both sides compute
    // them from the same literals.
    val drops = a.join(b, col("cell") === col("cell_b") && col("id_a") < col("id_b"))
      .where(round(vec_dot(col("emb_a"), col("emb_b")) / (col("n_a") * col("n_b")), 12) >= tau)
      .select(col("id_b").as("dropped")).distinct()
    asg.join(drops, col("vec_id") === col("dropped"), "left")
      .select(col("vec_id"), col("cell"), col("dropped").isNull.as("kept"))
  }

  /** Bucketed ANN: exact cosine ranking within LSH buckets only —
    * the scale path that avoids the full cross product. Recall is
    * tunable via nPlanes (fewer planes = bigger buckets = higher
    * recall, more compute). */
  def lshTopK(emb: DataFrame, nPlanes: Int = 8, dim: Int = 64, k: Int = 10): DataFrame = {
    val b = lshBuckets(emb, nPlanes, dim).withColumn("nrm", vec_norm(col("embedding")))
    val pairs = b.as("x").join(b.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("q_id"), col("y.vec_id").as("c_id"),
        (vec_dot(col("x.embedding"), col("y.embedding")) / (col("x.nrm") * col("y.nrm"))).as("sim"))
    rankTopK(pairs, k)
  }

  /** Scalar int8 quantization of the embedding column with a
    * reconstruction-error audit: per-DIMENSION min/max over the
    * corpus give a (min, scale) affine code book, every component
    * maps to a byte, and the audit reports per-vector code checksums
    * plus reconstruction MSE — the 4× memory cut that makes a
    * 100 TB embedding column fit an ANN serving tier, shipped WITH
    * the error measurement that says whether it was safe (the
    * ivfPqMaintain posture: compression decisions measured, not
    * assumed).
    *
    * Deterministic cross-engine: per-dim min/max involve no
    * accumulation; scale = round((max−min)/255, 12); the code is
    * floor((x−min)/scale + 0.5) clamped to [0, 255] — floor of an
    * identical IEEE double, not an engine-specific half-rounding
    * cast; squared errors are rounded(12) and DECIMAL-summed.
    *
    * Scale shape: one explode pass → a d-row stats relation
    * (broadcast back) → one narrow re-encode pass; no shuffle of the
    * vectors themselves beyond the dim-keyed stats join. */
  def int8QuantizeAudit(vecs: DataFrame, dim: Int = 64): DataFrame = {
    val comps = vecs.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim_idx", "x")))
      .select(col("vec_id"), col("dim_idx"), col("x").cast(DoubleType).as("x"))
      .truncateLineage // read twice: stats and re-encode
    val stats = comps.groupBy(col("dim_idx"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .select(col("dim_idx"), col("mn"),
        round((col("mx") - col("mn")) / 255.0, 12).as("scale"))
    val coded = comps.join(broadcast(stats), "dim_idx")
      .select(col("vec_id"), col("dim_idx"), col("x"), col("mn"), col("scale"),
        when(col("scale") === 0.0, lit(0L))
          .otherwise(greatest(lit(0L), least(lit(255L),
            floor((col("x") - col("mn")) / col("scale") + 0.5).cast(LongType)))).as("code"))
    val diff = col("x") - (col("mn") + col("code").cast(DoubleType) * col("scale"))
    coded
      .select(col("vec_id"), col("code"),
        // diff*diff, not pow(diff, 2): one IEEE multiply mirrors d*d
        // in SQL exactly; pow's libm path need not
        round(diff * diff, 12).cast(DecimalType(38, 12)).as("e2"))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("d"),
        sum(col("code")).as("code_sum"),
        min(col("code")).as("code_min"), max(col("code")).as("code_max"),
        round(sum(col("e2")).cast(DoubleType) / dim, 10).as("mse"))
      .where(col("d") === dim).drop("d")
  }

  /** Per-label embedding centroids in long (label, dim, mean) format —
    * the class-prototype table behind semantic dedup cells, drift
    * monitoring and nearest-centroid routing. Long format on purpose:
    * the centroid relation stays a first-class table (joinable,
    * window-able, hash-checkable) instead of an opaque array blob.
    *
    * Exactness: a float sum over a shuffle is order-dependent; each
    * component is therefore rounded to 9 dp (floats carry ~7
    * significant digits — nothing real is lost) and DECIMAL-summed,
    * the LM-ladder device, so both engines accumulate identical
    * terms under any partitioning. Scale shape: one posexplode + one
    * (label, dim) hash aggregate — |labels|·dim output rows, map-side
    * combined, no per-label state beyond the running sum. */
  def labelCentroids(embs: DataFrame, vecCol: String = "embedding",
                     labelCol: String = "label"): DataFrame =
    embs
      .select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("dim0", "v")))
      .select(col("label"), (col("dim0") + 1).cast(LongType).as("dim"),
        round(col("v").cast(DoubleType), 9).cast(DecimalType(38, 9)).as("vd"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("vd")).as("s"))
      .select(col("label").cast(LongType).as("label"), col("dim"), col("n"),
        round(col("s").cast(DoubleType) / col("n").cast(DoubleType), 6).as("mean_v"))

  /** Centered embedding components in relational form: (vec_id, dim,
    * cx) with cx = round(x − μ_dim, 9), μ from the [[labelCentroids]]
    * rounded-DECIMAL mean device. The shared front half of the
    * covariance/PCA pair. */
  private def centeredComponents(embs: DataFrame, vecCol: String,
                                 idCol: String): DataFrame = {
    val comps = embs
      .select(col(idCol).as("vec_id"), posexplode(col(vecCol)).as(Seq("dim0", "v")))
      .select(col("vec_id"), (col("dim0") + 1).cast(LongType).as("dim"),
        round(col("v").cast(DoubleType), 9).as("x"))
    val means = comps
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 9))).as("s"))
      .select(col("dim"), col("n"),
        round(col("s").cast(DoubleType) / col("n").cast(DoubleType), 6).as("mu"))
    comps.join(broadcast(means), "dim")
      .select(col("vec_id"), col("dim"), round(col("x") - col("mu"), 9).as("cx"))
  }

  /** Per-dimension z-scores — the whitening step (diagonal form)
    * every distance-based downstream (k-means, ANN, outlier screens)
    * silently assumes: z = (x − μ)/σ with σ from the exact rounded-
    * DECIMAL variance. Zero-variance dims standardize to 0 rather
    * than NaN. Output: (vec_id, dim, z) — the sparse relational form
    * that joins/prunes like any relation. One extra d-row broadcast
    * over [[embeddingCovariance]]'s front half; n·d output rows. */
  def embeddingStandardize(embs: DataFrame, vecCol: String = "embedding",
                           idCol: String = "vec_id"): DataFrame = {
    val ce = centeredComponents(embs, vecCol, idCol).truncateLineage
    val stats = ce.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("cx") * col("cx"), 12).cast(DecimalType(38, 12))).as("s2"))
      .select(col("dim"),
        round(sqrt(round(col("s2").cast(DoubleType) / col("n").cast(DoubleType), 8)), 8)
          .as("sigma"))
    ce.join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim"),
        when(col("sigma") === 0.0, lit(0.0))
          .otherwise(round(col("cx") / col("sigma"), 8)).as("z"))
  }

  /** Embedding-hygiene outlier screen: per-vector squared Mahalanobis
    * distance under the DIAGONAL covariance (Σ z²over dims — the
    * d-expected statistic; the full-matrix form needs the inverse,
    * which no exact cross-engine path survives), top-k by score with
    * a total order. A vector that scores far above d is a pipeline
    * artifact (wrong modality, truncated write, scale drift) before
    * it is interesting data. Output: (vec_id, m2, rank), k rows. */
  def embeddingOutliers(embs: DataFrame, k: Int = 50,
                        vecCol: String = "embedding",
                        idCol: String = "vec_id"): DataFrame = {
    require(k > 0, "embeddingOutliers needs k > 0")
    val m2 = embeddingStandardize(embs, vecCol, idCol)
      .select(col("vec_id"), round(col("z") * col("z"), 12).cast(DecimalType(38, 12)).as("z2"))
      .groupBy(col("vec_id"))
      .agg(round(sum(col("z2")).cast(DoubleType), 6).as("m2"))
    m2.orderBy(col("m2").desc, col("vec_id")).limit(k)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("m2").desc, col("vec_id"))).cast(LongType))
  }

  /** EXACT population covariance matrix of the embedding columns —
    * the second-moment structure PCA/whitening/Mahalanobis all start
    * from, as a first-class relation (dim_i ≤ dim_j upper triangle:
    * joinable, prunable, hash-checkable — a d×d array blob is none
    * of those). Output: (dim_i, dim_j, n, cov).
    *
    * Exactness: components and the centering means are rounded(9),
    * each cross product rounded(12) and DECIMAL-summed (order-free),
    * one division + round(8) at the end — both engines accumulate
    * identical terms under any partitioning. Scale shape: the
    * self-join on vec_id explodes each vector to its d(d+1)/2
    * pairs — the standard n·d² outer-product aggregate, map-side
    * combined, no state beyond the running sums; d is the embedding
    * width (fixed, small), never the corpus. */
  def embeddingCovariance(embs: DataFrame, vecCol: String = "embedding",
                          idCol: String = "vec_id"): DataFrame = {
    // Optimization r17 note: an array-generator rewrite (per-vector
    // nested transform → flatten → explode of the d² upper triangle)
    // was tried and MEASURED ~9x SLOWER at sf0.1 (694ms best → 9.0s
    // isolated) — the self-join below already plans as a BROADCAST
    // hash join (no shuffle), and Spark streams its n·d² output rows
    // straight into the partial aggregate, while the generator path
    // materializes a 2080-struct array object per vector. Kept as-is.
    val pin = centeredComponents(embs, vecCol, idCol).truncateLineage
    // Optimization r18: the pinned components inherit the SCAN's
    // partition count (one task at fixture SFs — embeddings is one
    // sub-MB parquet file), and the d(d+1)/2 pair expansion below does
    // ~d× the relation's rows in per-row BigDecimal work (round(·,12)
    // + DECIMAL(38,12) partial sums) before anything crosses a shuffle
    // — measured 4.6s single-task at sf0.1 vs 0.5s for the join alone
    // (the pca decomposition in OPTIMIZATION_r18.md). Fan the PROBE
    // side through the gated device (explode weight — each source row
    // becomes d pair terms); the build side stays the unfanned pin
    // behind an explicit broadcast so the planner cannot pick the
    // fanned side to build.
    // Partial decimal sums are exact and order-free, so the result is
    // bit-identical under any partitioning (oracle-checked).
    val ce = graft.plans.FanOut.fanOutIfNarrow(pin, col("vec_id"),
      graft.plans.FanOut.ExplodeBytesPerTask)
    val a = ce.select(col("vec_id"), col("dim").as("dim_i"), col("cx").as("ca"))
    val b = pin.select(col("vec_id"), col("dim").as("dim_j"), col("cx").as("cb"))
    a.join(broadcast(b), Seq("vec_id")).where(col("dim_i") <= col("dim_j"))
      .select(col("dim_i"), col("dim_j"),
        round(col("ca") * col("cb"), 12).cast(DecimalType(38, 12)).as("p"))
      .groupBy(col("dim_i"), col("dim_j"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sp"))
      .select(col("dim_i"), col("dim_j"), col("n"),
        round(col("sp").cast(DoubleType) / col("n").cast(DoubleType), 8).as("cov"))
  }

  /** Dominant principal component by POWER ITERATION over the exact
    * covariance relation — `iters` unrolled matrix-vector steps (the
    * kmeans/pageRank bounded-loop device: each step is one broadcast
    * join + one d-row aggregate, the driver never touches data).
    * Start vector is the all-ones direction; every step rounds the
    * matvec to 8 dp after a rounded(12)-product DECIMAL sum and
    * normalizes by a single IEEE sqrt/divide, so both engines walk
    * the identical float path. Output: (dim, v, lambda) with λ the
    * final ‖Cv‖ — the Rayleigh estimate of the top eigenvalue.
    *
    * Scale shape: the covariance build dominates (n·d²); the
    * iteration itself runs on d² rows regardless of corpus size. */
  def pcaTopComponent(embs: DataFrame, iters: Int = 3,
                      vecCol: String = "embedding",
                      idCol: String = "vec_id"): DataFrame = {
    require(iters > 0, "pcaTopComponent needs iters > 0")
    val up = embeddingCovariance(embs, vecCol, idCol).truncateLineage
    // Array-space power iteration (optimization r18): the iteration is
    // a d×d matvec — d is the EMBEDDING WIDTH, a plan constant, never
    // the corpus — yet the relational loop paid ~3 driver-synchronized
    // jobs per round (checkpoint + broadcast builds + a join/agg
    // exchange pair over a 4096-row relation), which is why the query
    // showed 8c/32c scaling 1.04: pure job floor. The mirrored matrix
    // now collapses to ONE row of j-ordered rows (two bounded
    // aggregates, d² → d → 1) and all `iters` rounds run as pure array
    // expressions over that row — zero joins, zero per-round shuffles,
    // zero pins. Arithmetic is bit-identical to the relational form:
    // the same round(cov·v, 12) terms DECIMAL(38,12)-summed in j order
    // (associative — order-free), the same round(·, 8) matvec, the
    // same IEEE sqrt/divide and round(·, 6) lambda.
    val full = up.select(col("dim_i").as("i"), col("dim_j").as("j"), col("cov"))
      .unionAll(up.where(col("dim_i") < col("dim_j"))
        .select(col("dim_j").as("i"), col("dim_i").as("j"), col("cov")))
    // dims are dense 1..d by construction (posexplode positions), so
    // array position k holds dimension k+1 on both axes
    val mat = full.groupBy(col("i"))
      .agg(transform(array_sort(collect_list(struct(col("j"), col("cov")))),
        s => s.getField("cov")).as("row"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("row")))),
        s => s.getField("row")).as("rows"))
    // DECIMAL plumbing for the folds: a (38,12)+(38,12) add demotes to
    // (38,11) under the precision-loss rule (the unigramLogProb trap),
    // so terms ride as (28,12) and the accumulator re-casts to (30,12)
    // after every add — both lossless at matvec magnitudes (|terms| ≪
    // 10^18), so the fold equals the relational sum() bit for bit.
    val dEl = DecimalType(28, 12)
    val dAcc = DecimalType(30, 12)
    val zeroAcc = lit(java.math.BigDecimal.ZERO).cast(dAcc)
    def matvec(rows: Column, v: Column): Column =
      transform(rows, r => round(
        aggregate(zip_with(r, v, (c, vv) => round(c * vv, 12).cast(dEl)),
          zeroAcc, (acc, x) => (acc + x).cast(dAcc)).cast(DoubleType), 8))
    def norm2(w: Column): Column =
      sqrt(aggregate(transform(w, x => round(x * x, 12).cast(dEl)),
        zeroAcc, (acc, x) => (acc + x).cast(dAcc)).cast(DoubleType))
    var it = mat.select(col("rows"),
      transform(col("rows"), _ => lit(1.0)).as("v"), lit(0.0).as("nrm"))
    for (_ <- 1 to iters) {
      // the repartition(1) of the one-row state is an optimizer
      // BARRIER, not a distribution choice: without it CollapseProject
      // inlines round r's matvec into every element reference of round
      // r+1's lambdas — d-fold blow-up per round (measured: iters=3
      // ran minutes of interpreted Cast instead of microseconds). One
      // trivial exchange per round keeps each matvec evaluated once.
      it = it.select(col("rows"), matvec(col("rows"), col("v")).as("w"))
        .select(col("rows"), col("w"), norm2(col("w")).as("nrm"))
        .select(col("rows"), transform(col("w"), x => round(x / col("nrm"), 8)).as("v"),
          col("nrm"))
        .repartition(1)
    }
    // pin the ONE-ROW state before exploding: the generator's inferred
    // size(v) > 0 predicate otherwise pushes below every barrier and
    // re-inlines the full iteration chain into one interpreted Filter
    // condition whose per-element lambda references re-evaluate each
    // round d times per element — the d^iters blow-up again, as a
    // filter (measured: minutes of interpreted Cast). A leaf is the
    // one thing pushdown cannot cross; the pin is one row.
    it.truncateLineage
      .select(posexplode(col("v")).as(Seq("pos", "v")), col("nrm"))
      .select((col("pos") + 1).cast(LongType).as("dim"), col("v"),
        round(col("nrm"), 6).as("lambda"))
  }
}
