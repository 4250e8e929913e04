package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._
import graft.QuerySpec.Q
import graft.SparkEntry._
import graft.queries.Twins._

/** LLM-pipeline operators, part 2: embedding similarity and ANN indexes
  * (LSH, IVF, PQ), DSIR importance selection and k-means. */
object EmbeddingQueries {
  val specs: Seq[QuerySpec] = Seq(
    // int8 embedding compression WITH its error measurement: per-dim
    // affine code book, byte codes, per-vector reconstruction MSE —
    // the 4x serving-tier memory cut, measured not assumed
    Q("embedding_quantize", (s, d) =>
      Similarity.int8QuantizeAudit(t(s, d).embeddings).orderBy("vec_id"))(
      // per-dim code books from accumulation-free min/max; codes via
      // floor(x/scale + 0.5) — floor of an identical IEEE double, not an
      // engine-specific half-rounding cast; squared errors DECIMAL-summed
      """WITH c AS (SELECT vec_id, CAST(embedding[i] AS DOUBLE) AS x, i AS dim_idx
        |   FROM (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) AS i FROM embeddings) z),
        | st AS (SELECT dim_idx, min(x) AS mn, round((max(x) - min(x)) / 255.0, 12) AS scale FROM c GROUP BY 1),
        | cd AS (SELECT c.vec_id, c.x, st.mn, st.scale,
        |        CASE WHEN st.scale = 0.0 THEN 0
        |             ELSE greatest(0, least(255, CAST(floor((c.x - st.mn) / st.scale + 0.5) AS BIGINT))) END AS code
        |        FROM c JOIN st USING (dim_idx)),
        | e AS (SELECT vec_id, code,
        |        CAST(round((x - (mn + CAST(code AS DOUBLE) * scale)) * (x - (mn + CAST(code AS DOUBLE) * scale)), 12)
        |          AS DECIMAL(38,12)) AS e2
        |       FROM cd)
        |SELECT vec_id, CAST(sum(code) AS BIGINT) AS code_sum,
        | min(code) AS code_min, max(code) AS code_max,
        | round(CAST(sum(e2) AS DOUBLE) / 64, 10) AS mse
        |FROM e GROUP BY vec_id ORDER BY vec_id""".stripMargin),
    Q("cosine_topk", (s, d) => {
      val e = t(s, d).embeddings
      Similarity.bruteForceTopK(e, e.where(col("vec_id") % 50 === 0))
        .orderBy("q_id", "rank")
    })(
      """WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
        | c AS (SELECT vec_id AS c_id, embedding FROM embeddings),
        | s AS (SELECT q_id, c_id,
        |        list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim
        |        FROM q JOIN c ON q_id <> c_id),
        | r AS (SELECT q_id, c_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank FROM s)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, round(sim, 4) AS sim_r
        |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
    // the k-occurrence hubness census: N_k histogram with antihubs —
    // the high-dimensionality red flag every k-NN consumer inherits
    Q("knn_hubness", (s, d) =>
      Similarity.knnHubness(t(s, d).embeddings).orderBy("n_k"))(
      // the k-occurrence census off the proven cosine-rank chain: every
      // vector a query, rank <= 10 occurrences counted per candidate,
      // antihubs restored by the left join
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        | c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        | s AS (SELECT q_id, c_id, list_cosine_similarity(q.e, c.e) AS sim FROM q JOIN c ON q_id <> c_id),
        | r AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank FROM s),
        | occ AS (SELECT c_id, count(*) AS occ FROM r WHERE rank <= 10 GROUP BY 1)
        |SELECT coalesce(occ.occ, 0) AS n_k, count(*) AS n_vectors
        |FROM embeddings e LEFT JOIN occ ON e.vec_id = occ.c_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Johnson-Lindenstrauss projection WITH its distortion
    // measurement (the embedding_quantize posture applied to dim
    // reduction): 64→16 dims through the deterministic splitmix
    // hyperplanes, then per adjacent-id pair the squared distance in
    // both spaces and the 3/k-scaled ratio — the dim cut measured,
    // not assumed. Twin replays the exact plane geometry (planeSql)
    Q("jl_distortion_audit", (s, d) => {
      val k = 16
      val e = t(s, d).embeddings
      val pr = Similarity.jlProject(e, k = k)
      val dots = e.join(pr, "vec_id")
      val a = dots.where(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("proj").as("pa"))
      val b = dots.where(col("vec_id") % 2 === 1)
        .select((col("vec_id") - 1).as("id_a"), col("vec_id").as("id_b"),
          col("embedding").as("eb"), col("proj").as("pb"))
      import graft.functions.VectorFunctions.vec_dot
      val d2o = round(vec_dot(col("ea"), col("ea")), 9) +
        round(vec_dot(col("eb"), col("eb")), 9) -
        lit(2) * round(vec_dot(col("ea"), col("eb")), 9)
      val d2p = (1 to k).map { j =>
        val df = element_at(col("pa"), j) - element_at(col("pb"), j)
        df * df
      }.reduce(_ + _)
      a.join(b, "id_a")
        .withColumn("__d2o", d2o).withColumn("__d2p", d2p)
        .select(col("id_a"), col("id_b"),
          round(col("__d2o"), 6).as("d2_orig"),
          round(col("__d2p"), 6).as("d2_proj"),
          round(col("__d2p") * 3 / k / col("__d2o"), 6).as("distortion"))
        .orderBy("id_a")
    }) {
      // the identical plane geometry inlined as literals; projections,
      // both squared distances and the 3/k ratio replayed term-for-term
      val k = 16
      val projList = (0 until k).map(j =>
        s"round(list_dot_product(e, ${Similarity.planeSql(Similarity.JlPlaneOffset + j, 64)}), 9)")
        .mkString("[", ",\n      ", "]")
      val d2p = (1 to k).map(j => s"(pa[$j]-pb[$j])*(pa[$j]-pb[$j])").mkString(" + ")
      s"""WITH pr AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         | pj AS (SELECT vec_id, e, $projList AS proj FROM pr),
         | a AS (SELECT vec_id AS id_a, e AS ea, proj AS pa FROM pj WHERE vec_id % 2 = 0),
         | b AS (SELECT vec_id - 1 AS id_a, vec_id AS id_b, e AS eb, proj AS pb
         |   FROM pj WHERE vec_id % 2 = 1),
         | d AS (SELECT id_a, id_b,
         |    round(list_dot_product(ea, ea), 9) + round(list_dot_product(eb, eb), 9)
         |      - 2 * round(list_dot_product(ea, eb), 9) AS d2o,
         |    $d2p AS d2p
         |   FROM a JOIN b USING (id_a))
         |SELECT id_a, id_b, round(d2o, 6) AS d2_orig, round(d2p, 6) AS d2_proj,
         | round(d2p * 3 / $k / d2o, 6) AS distortion
         |FROM d ORDER BY id_a""".stripMargin
    },
    // ratio-margin bitext mining: per-source best target scored by
    // cos/(k-NN mass avg) — hub cancellation — with the mutual
    // (forward-backward) flag; sides are vec_id parity
    Q("bitext_margin_mining", (s, d) => {
      val e = t(s, d).embeddings
      Similarity.bitextMarginMining(
        e.where(col("vec_id") % 2 === 0), e.where(col("vec_id") % 2 === 1))
        .orderBy("s_id")
    })(
      // the margin math replayed: rounded(9)-DECIMAL cosines, k-NN mass
      // sums, ONE division per margin rounded(6) before every rank
      s"""WITH s AS (SELECT vec_id AS s_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id % 2 = 0),
        | t AS (SELECT vec_id AS t_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id % 2 = 1),
        | sims AS (SELECT s_id, t_id,
        |   CAST(round(list_cosine_similarity(s.e, t.e), 9) AS DECIMAL(18,9)) AS sim FROM s CROSS JOIN t),
        |$MarginMineSql""".stripMargin),
    // the 100-TB margin miner: hyperplane-LSH shortlist candidates
    // into the IDENTICAL margin chain — the twin recomputes the same
    // splitmix plane geometry (literals inlined by planeSql), so the
    // CANDIDATE SET is hash-pinned, not just the margins
    Q("bitext_margin_lsh", (s, d) => {
      val e = t(s, d).embeddings
      Similarity.bitextMarginMiningLsh(
        e.where(col("vec_id") % 2 === 0), e.where(col("vec_id") % 2 === 1))
        .orderBy("s_id")
    })(
      // the LSH-shortlist margin miner, twinned end to end: bucket keys
      // from the inlined splitmix planes, candidates from the co-bucket
      // join, then the brute twin's margin chain verbatim
      bitextMarginLshTwinSql),
    // the production hubness audit: the same k-occurrence census over
    // ivfTopK's shortlist-served neighbor lists — deterministic
    // geometry end to end, so the census is a full hash oracle
    Q("knn_hubness_ivf", (s, d) =>
      Similarity.knnHubnessIvf(t(s, d).embeddings).orderBy("n_k"))(
      // the IVF-shortlist hubness census: kCent-capped stride cells
      // (vec_id % 25 = 0 AND vec_id < 25*64), nProbe probes,
      // exact within-candidate cosine ranks, then knn_hubness's census
      """WITH cents AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 1600),
        | v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        | asg AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |   ORDER BY list_cosine_similarity(e, ce) DESC, cell) AS rn FROM v CROSS JOIN cents),
        | home AS (SELECT vec_id AS c_id, cell FROM asg WHERE rn = 1),
        | probe AS (SELECT vec_id AS q_id, cell FROM asg WHERE rn <= 4),
        | cand AS (SELECT DISTINCT q_id, c_id FROM probe JOIN home USING (cell) WHERE q_id <> c_id),
        | s AS (SELECT q_id, c_id, list_cosine_similarity(q.e, c.e) AS sim
        |       FROM cand JOIN v q ON q.vec_id = cand.q_id JOIN v c ON c.vec_id = cand.c_id),
        | r AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank FROM s),
        | occ AS (SELECT c_id, count(*) AS occ FROM r WHERE rank <= 10 GROUP BY 1)
        |SELECT coalesce(occ.occ, 0) AS n_k, count(*) AS n_vectors
        |FROM embeddings e LEFT JOIN occ ON e.vec_id = occ.c_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // lsh_topk's EXACT shadow: the (vec_id, bucket) relation under the
    // same 8 sign planes lshTopK buckets with — candidate structure
    // hash-pinned while the top-k answers stay rows-only
    Q("lsh_buckets", (s, d) =>
      Similarity.lshBuckets(t(s, d).embeddings, nPlanes = 8)
        .select(col("vec_id"), col("bucket")).orderBy("vec_id"))(
      // lsh_topk's bucket geometry, exactly twinned via inlined planes
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
         |SELECT vec_id, CAST(${lshBucketSql("e", 8, 0)} AS BIGINT) AS bucket
         |FROM v ORDER BY vec_id""".stripMargin),
    // ivf_topk's EXACT shadow: every vector's nProbe nearest stride
    // centroids with probe rank (rank 1 = corpus home cell) — one
    // relation pins both halves of the candidate structure
    Q("ivf_cells", (s, d) =>
      Similarity.ivfProbeCells(t(s, d).embeddings).orderBy("vec_id", "rank"))(
      // ivf_topk's candidate structure: nProbe nearest kCent-capped
      // stride-50 centroids (vec_id < 50*64) per vector with probe rank
      // (rank 1 = home cell)
      """WITH cents AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 3200),
        | v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        | asg AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |   ORDER BY list_cosine_similarity(e, ce) DESC, cell) AS rn FROM v CROSS JOIN cents)
        |SELECT vec_id, CAST(rn AS BIGINT) AS rank, cell FROM asg
        |WHERE rn <= 4 ORDER BY vec_id, rank""".stripMargin),
    // ivf_pq_topk's EXACT shadow: the built index's cells relation
    // (the streaming_ann_cells device, applied to the batch build)
    Q("ivf_pq_cells", (s, d) =>
      Similarity.ivfPqBuild(t(s, d).embeddings).cells
        .select(col("vec_id"), col("cell")).orderBy("vec_id"))(
      // ivf_pq_topk's cells relation under the batch-built index
      s"""WITH cents AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings WHERE vec_id % 10 = 0$coarseGuard),
        | v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        | asg AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
        |   ORDER BY list_cosine_similarity(e, ce) DESC, cell) AS rn FROM v CROSS JOIN cents)
        |SELECT vec_id, cell FROM asg WHERE rn = 1 ORDER BY vec_id""".stripMargin),
    // pq_topk's EXACT shadow: the per-subspace code relation under the
    // frozen stride codebook — with this every ANN family (lsh/ivf/
    // ivf×pq/pq) carries a hash-checked exact invariant
    Q("pq_codes", (s, d) =>
      Similarity.pqCodeRelation(t(s, d).embeddings).orderBy("vec_id", "j"))(
      // pq encoding replayed: stride codebook (dense-ranked first kCent
      // stride vectors), per-subspace argmin of -2·s·c + |c|² with the
      // min-code tie-break — m=16 subspaces of subDim=4 over dim 64
      """WITH sv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        | js AS (SELECT unnest(range(16)) AS j),
        | cb0 AS (SELECT e, row_number() OVER (ORDER BY vec_id) - 1 AS code FROM sv WHERE vec_id % 50 = 0),
        | cb AS (SELECT code, j, e[CAST(j*4+1 AS INT):CAST(j*4+4 AS INT)] AS cs FROM cb0 CROSS JOIN js WHERE code < 48),
        | sub AS (SELECT vec_id, j, e[CAST(j*4+1 AS INT):CAST(j*4+4 AS INT)] AS s FROM sv CROSS JOIN js),
        | d AS (SELECT vec_id, sub.j AS j, code,
        |   list_dot_product(s, cs) * -2.0 + list_dot_product(cs, cs) AS d
        |   FROM sub JOIN cb ON sub.j = cb.j),
        | r AS (SELECT vec_id, j, code, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn FROM d)
        |SELECT vec_id, CAST(j AS BIGINT) AS j, CAST(code AS BIGINT) AS code
        |FROM r WHERE rn = 1 ORDER BY vec_id, j""".stripMargin),
    // DSIR domain selection (Xie et al. 2023, arXiv:2302.03169): score
    // the non-English pool by ln p_en(w) − ln p_pool(w) under add-1
    // unigram models, keep the top quarter — importance resampling
    // toward a target domain, the data-selection method a 100 TB
    // pretraining pipeline runs before mixture solving
    Q("dsir_select", (s, d) => {
      val docs = t(s, d).documents
      Corpus.dsirSelect(docs.where(col("lang") =!= "en"),
        docs.where(col("lang") === "en")).orderBy("doc_id")
    })(
      // DSIR replayed: add-1 unigram models of pool (lang<>'en') and
      // target ('en') over the union vocab, per-word Δ of rounded(12)
      // lns subtracted as DECIMALs, per-doc DECIMAL sums, rank on the
      // EXACT decimal with doc_id tie-break, integer ceil for the cut
      s"""$DsirScoredCtes,
         |$DsirRankSql""".stripMargin),
    // the DSIR memory-bound variant (the paper's actual posture): the
    // SAME importance-resampling selection with the model keyed on
    // xxhash64(word) % 1024 — the scorer's broadcast relation is
    // provably m-bounded, the shape a 100 TB pool's union vocabulary
    // requires. m = 1024 deliberately forces real bucket collisions at
    // this fixture's vocab so the hashing is exercised, not vestigial
    Q("dsir_select_hashed", (s, d) => {
      val docs = t(s, d).documents
      Corpus.dsirSelectHashed(docs.where(col("lang") =!= "en"),
        docs.where(col("lang") === "en"), m = 1024).orderBy("doc_id")
    })(
      // the hashed-model DSIR twin: the dsir_select chain with every
      // clean word collapsed to pmod(xxhash64(word), 1024) BEFORE the
      // count/model/score stages — the hash replayed via xxh64WordCtes
      // (unsigned HUGEINT -> signed two's-complement -> positive mod,
      // Spark's pmod semantics), smoothing denominator = OCCUPIED
      // bucket count, everything else byte-identical to the exact twin
      s"""$hashedDsirScoredCtes,
         |$DsirRankSql""".stripMargin),
    // the hashed gate COMPOSED into a build (VERDICT r13 #6): the
    // m-bounded model — the 100 TB shape, broadcast ≤ m rows at any
    // vocabulary — drives a real curation chain: select on the hashed
    // importance weights, rejoin the surviving docs, chunk to context
    // windows. One hash proves the bounded gate slots into a pipeline
    // exactly like the exact-model one
    Q("dsir_curate_e2e", (s, d) => {
      val docs = t(s, d).documents
      val sel = Corpus.dsirSelectHashed(docs.where(col("lang") =!= "en"),
          docs.where(col("lang") === "en"), m = 1024)
        .where(col("selected"))
        .select(col("doc_id"), col("dsir_logw"))
      val kept = docs.join(sel, "doc_id")
        .select(col("doc_id"), col("lang"), col("dsir_logw"), col("text"))
      Corpus.chunk(kept, size = 256)
        .select(col("doc_id"), col("lang"), col("dsir_logw"), col("chunk_idx"), col("chunk"))
        .orderBy("doc_id", "chunk_idx")
    })(
      // the composed hashed gate: dsir_select_hashed's selection chain,
      // survivors rejoined to the corpus and chunked at 256 (the
      // pipeline_e2e chunk template) — one hash over the whole build
      s"""$hashedDsirScoredCtes,
         | nn AS (SELECT count(*) AS n FROM scored),
         | r AS (SELECT doc_id, sl, row_number() OVER (ORDER BY sl DESC, doc_id) AS rk FROM scored),
         | sel AS (SELECT doc_id, round(CAST(sl AS DOUBLE), 6) AS dsir_logw
         |   FROM r CROSS JOIN nn WHERE rk <= (nn.n * 250 + 999) // 1000),
         | kept AS (SELECT d.doc_id, d.lang, sel.dsir_logw, d.text
         |   FROM documents d JOIN sel USING (doc_id)),
         | c AS (SELECT doc_id, lang, dsir_logw, text,
         |   CAST(ceil(length(text) / 256.0) AS BIGINT) AS n_chunks FROM kept),
         | u AS (SELECT doc_id, lang, dsir_logw, text,
         |   unnest(generate_series(0, n_chunks - 1)) AS chunk_idx FROM c)
         |SELECT doc_id, lang, dsir_logw, chunk_idx,
         | substring(text, CAST(chunk_idx * 256 + 1 AS INT), 256) AS chunk
         |FROM u ORDER BY doc_id, chunk_idx""".stripMargin),
    // simhash's derived EXACT invariant (the minhash clone-reject
    // device): planted byte-identical clones MUST collide with their
    // originals — identical text ⇒ identical 64-bit fingerprint — so
    // the collision set is closed-form while a nondeterministic or
    // text-unstable simhash unhashes it
    Q("simhash_clone_invariant", (s, d) => {
      val docs = t(s, d).documents
      // the clone-id offset must clear the real id space: a fixture
      // whose doc_ids reach 10000 would leak real docs into the clone
      // filter (and collide clone ids with real ids) — a fixture-size
      // failure masquerading as a simhash bug (ADVICE r12). One scalar
      // agg guards it loudly; shipped fixtures top out at 4999.
      val maxId = docs.agg(coalesce(max(col("doc_id")), lit(-1L))).head().getLong(0)
      require(maxId < 10000,
        s"simhash_clone_invariant fixture regime: max doc_id $maxId >= clone offset 10000")
      val clones = docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      val sh = Dedup.simhash(
        docs.select(col("doc_id"), col("text")).unionAll(clones))
      sh.as("c").where(col("c.doc_id") >= 10000)
        .join(sh.as("o"), col("c.doc_id") === col("o.doc_id") + 10000 &&
          col("c.simhash") === col("o.simhash"))
        .select(col("c.doc_id")).orderBy("doc_id")
    })(
      // identical text ⇒ identical simhash: every planted clone with at
      // least one clean word must collide with its original
      s"""$WDoc
         |SELECT DISTINCT doc_id + 10000 AS doc_id FROM w
         |WHERE doc_id % 10 = 0 ORDER BY 1""".stripMargin),
    // EXACT-replayable distributed k-means: deterministic init (first
    // k vectors), 6-dp-rounded min-code-tiebreak assignment, 10-dp
    // DECIMAL-accumulated means — the whole clustering sits behind the
    // hash gate (the twin unrolls all three Lloyd iterations), not
    // just a row count like the approximate ANN family
    Q("kmeans_assign", (s, d) =>
      Similarity.kmeans(t(s, d).embeddings).orderBy("vec_id"))(
      // all three Lloyd iterations UNROLLED (the PageRank twin device):
      // per iteration one rounded-score argmin assignment and one
      // DECIMAL-mean centroid update, generated from the same (k, iters)
      s"""$KmeansCtes
         |SELECT vec_id, code FROM af ORDER BY vec_id""".stripMargin),
    // SEMANTIC corpus rebalancing: k-means clusters as sampling strata
    // — over-represented semantic regions downsample exactly like
    // over-represented languages do in temperature_sample (embeddings
    // and documents share the id space, so clusters key documents)
    Q("cluster_balanced_sample", (s, d) => {
      val codes = Similarity.kmeans(t(s, d).embeddings)
        .select(col("vec_id").as("doc_id"), col("code").as("cluster"))
      val docs = t(s, d).documents.join(codes, Seq("doc_id"))
        .select(col("doc_id"), col("cluster"), col("text"))
      val rates = Corpus.temperatureRates(docs, strataCol = "cluster")
      Corpus.resampleWithRates(docs, rates, strataCol = "cluster")
        .select(col("doc_id"), col("cluster"), col("n_l"), col("keep_permille"))
        .orderBy("doc_id")
    })(
      // SEMANTIC rebalancing: the kmeans chain feeds the same
      // temperature-rate + hash-permille machinery temperature_sample
      // proves, keyed on cluster instead of language
      s"""$KmeansCtes,
         | n AS (SELECT code AS cluster, count(*) AS n_l FROM af GROUP BY code),
         | r AS (SELECT cluster, n_l,
         |   CAST(floor(1000.0 * sqrt((SELECT CAST(min(n_l) AS DOUBLE) FROM n))
         |        / sqrt(CAST(n_l AS DOUBLE))) AS BIGINT) AS keep_permille FROM n)
         |SELECT d.doc_id, af.code AS cluster, r.n_l, r.keep_permille
         |FROM documents d JOIN af ON d.doc_id = af.vec_id JOIN r ON af.code = r.cluster
         |WHERE $HashPermille < r.keep_permille
         |ORDER BY d.doc_id""".stripMargin),
    Q("lsh_topk", (s, d) => Similarity.lshTopK(t(s, d).embeddings).orderBy("q_id", "rank"))(
      // lsh_topk CONVERTED from rows-only to a full hash oracle (round
      // 12): the bucket keys are deterministic splitmix planes (inlined
      // literals, bit-identical dot products — see lsh_buckets), and the
      // within-bucket ranking is exact cosine with id tie-break, so the
      // ENTIRE approximate answer is replayable
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         | b AS (SELECT vec_id, e, ${lshBucketSql("e", 8, 0)} AS bucket FROM v),
         | s AS (SELECT x.vec_id AS q_id, y.vec_id AS c_id,
         |        list_cosine_similarity(x.e, y.e) AS sim
         |        FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
         | r AS (SELECT q_id, c_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank FROM s)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, round(sim, 4) AS sim_r
         |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
    Q("ivf_topk", (s, d) => Similarity.ivfTopK(t(s, d).embeddings).orderBy("q_id", "rank"))(
      // ivf_topk CONVERTED from rows-only to a full hash oracle (round
      // 12): kCent-capped stride-centroid cells (vec_id < 50*64),
      // nProbe probes, exact within-
      // candidate cosine ranking — the knn_hubness_ivf chain minus the
      // census (the cells relation alone remains pinned by ivf_cells)
      s"""$ivfRankCtes
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, round(sim, 4) AS sim_r
         |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
    // the ANN quality gate a serving index ships with: recall@10 of
    // ivf_topk against the exact cosine truth, as the pure-integer
    // hits histogram (how many queries found 0..10 of their true
    // top-10) — every-query coverage, 0-hit queries restored by the
    // left join; both input rankings are themselves hash-proven, so
    // the set intersection is engine-identical
    Q("ann_recall_eval", (s, d) => {
      val e = t(s, d).embeddings
      // exact truth over a BOUNDED query sample (the cosine_topk
      // stride device): the gate needs a recall estimate, not an
      // N x N all-pairs truth — unbounded, bruteForceTopK(e, e) is
      // the quadratic shape plan_audit exists to flag (r14 review)
      recallHistogram(e, Similarity.ivfTopK(e).where(col("q_id") % 50 === 0)
        .select(col("q_id"), col("c_id")))
    })(
      // the ANN quality gate: recall@10 of the IVF ranking against the
      // exact cosine truth, reported as the hits histogram (0..10 —
      // pure integers, no float mean to flap a hash); queries whose
      // IVF list shares nothing with the truth are restored at 0 by
      // the left join
      s"""$ivfRankCtes,
         | exs AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id, list_cosine_similarity(q.e, c.e) AS sim
         |        FROM v q JOIN v c ON q.vec_id <> c.vec_id WHERE q.vec_id % 50 = 0),
         | exr AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank FROM exs),
         | hits AS (SELECT a.q_id, count(*) AS hits
         |          FROM (SELECT q_id, c_id FROM r WHERE rank <= 10 AND q_id % 50 = 0) a
         |          JOIN (SELECT q_id, c_id FROM exr WHERE rank <= 10) b USING (q_id, c_id)
         |          GROUP BY 1),
         | allq AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id % 50 = 0)
         |SELECT CAST(coalesce(h.hits, 0) AS BIGINT) AS hits, count(*) AS n_queries
         |FROM allq LEFT JOIN hits h USING (q_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // the same recall@10 gate for the IVF×PQ funnel (r15: VERDICT #7 —
    // uniform serving-quality story across the ANN stack): both input
    // rankings are independently hash-proven, so the intersection is
    // engine-identical; pure-integer hits histogram, 0-hit queries
    // restored by the left join
    Q("ivf_pq_recall_eval", (s, d) => {
      val e = t(s, d).embeddings
      recallHistogram(e, Similarity.ivfPqTopK(e).select(col("q_id"), col("c_id")))
    })(
      // recall gate for the IVF×PQ funnel: the hash-proven ivf_pq_topk
      // twin as a subquery, intersected with the exact cosine truth
      recallTwinSql(ivfPqQueryTwinSql("", "", "vec_id % 50 = 0"))),
    // and for the hyperplane-LSH ranking — same bounded query sample
    // (the exact truth is never an unbounded N×N brute force)
    Q("lsh_recall_eval", (s, d) => {
      val e = t(s, d).embeddings
      recallHistogram(e, Similarity.lshTopK(e).where(col("q_id") % 50 === 0)
        .select(col("q_id"), col("c_id")))
    }) {
      // recall gate for the hyperplane-LSH ranking: the hash-proven
      // lsh_topk twin filtered to the bounded query sample
      val lshTwin =
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           | b AS (SELECT vec_id, e, ${lshBucketSql("e", 8, 0)} AS bucket FROM v),
           | s AS (SELECT x.vec_id AS q_id, y.vec_id AS c_id,
           |        list_cosine_similarity(x.e, y.e) AS sim
           |        FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
           | r AS (SELECT q_id, c_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank FROM s)
           |SELECT q_id, c_id FROM r WHERE rank <= 10 AND q_id % 50 = 0""".stripMargin
      recallTwinSql(lshTwin)
    },
    // product-quantization ANN (rows-only: approximate by design;
    // recall vs brute force asserted in SimilaritySpec)
    Q("pq_topk", (s, d) => Similarity.pqTopK(t(s, d).embeddings).orderBy("q_id", "rank"))(
      // pq_topk CONVERTED from rows-only to a full hash oracle (round
      // 12): codes from the pq_codes device, query tables from
      // bit-identical subspace dots, and the ADC score as an ORDERED
      // list_reduce fold — double addition is order-sensitive and
      // VecAdcScore sums subspaces sequentially, so the fold (not a SUM
      // aggregate) is what makes the scores replay bit-for-bit
      """WITH sv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        | js AS (SELECT unnest(range(16)) AS j),
        | cb0 AS (SELECT e, row_number() OVER (ORDER BY vec_id) - 1 AS code FROM sv WHERE vec_id % 50 = 0),
        | cb AS MATERIALIZED (SELECT code, j, e[CAST(j*4+1 AS INT):CAST(j*4+4 AS INT)] AS cs FROM cb0 CROSS JOIN js WHERE code < 48),
        | sub AS (SELECT vec_id, j, e[CAST(j*4+1 AS INT):CAST(j*4+4 AS INT)] AS s FROM sv CROSS JOIN js),
        | d AS (SELECT vec_id, sub.j AS j, code,
        |   list_dot_product(s, cs) * -2.0 + list_dot_product(cs, cs) AS d
        |   FROM sub JOIN cb ON sub.j = cb.j),
        | r AS (SELECT vec_id, j, code, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn FROM d),
        | codes AS MATERIALIZED (SELECT vec_id, j, code FROM r WHERE rn = 1),
        | qd AS MATERIALIZED (SELECT q.vec_id AS q_id, cb.j, cb.code,
        |   list_dot_product(q.e[CAST(cb.j*4+1 AS INT):CAST(cb.j*4+4 AS INT)], cs) AS dot
        |   FROM sv q CROSS JOIN cb WHERE q.vec_id % 50 = 0),
        | sc AS (SELECT q_id, c.vec_id AS c_id,
        |   list_reduce(list_prepend(0.0, list(dot ORDER BY c.j)), (acc, x) -> acc + x) AS sim
        |   FROM codes c JOIN qd ON qd.j = c.j AND qd.code = c.code
        |   WHERE q_id <> c.vec_id
        |   GROUP BY 1, 2),
        | rk AS (SELECT q_id, c_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank FROM sc)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, round(sim, 4) AS sim_r
        |FROM rk WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
    Q("ivf_pq_topk", (s, d) => Similarity.ivfPqTopK(t(s, d).embeddings).orderBy("q_id", "rank"))(
      // the residual IVF×PQ family CONVERTED from rows-only to full hash
      // oracles (round 12) — all four share ivfPqQueryTwinSql; the
      // roundtrip/append/streaming variants answering IDENTICALLY to the
      // direct computation is precisely their contract
      ivfPqQueryTwinSql("", "", "vec_id % 50 = 0")),
    // the production index lifecycle: build → persist to parquet →
    // reload → query the reloaded relations (SimilaritySpec proves
    // byte-identical answers to the in-memory path)
    Q("ann_index_roundtrip", (s, d) => {
      val emb = t(s, d).embeddings
      val dir = java.nio.file.Files.createTempDirectory("graft-annidx").toString
      Similarity.ivfPqWrite(Similarity.ivfPqBuild(emb), dir)
      Similarity.ivfPqQuery(Similarity.ivfPqRead(s, dir),
          emb.where(col("vec_id") % 50 === 0), emb)
        .orderBy("q_id", "rank")
    })(ivfPqQueryTwinSql("", "", "vec_id % 50 = 0")),
    // incremental index ingest: build on 80% of the corpus, fold the
    // remaining batch in with frozen centroids/code books (no retrain),
    // query the grown index — rows-only (approximate ANN); the
    // findability and recall properties are asserted in SimilaritySpec
    Q("ann_index_append", (s, d) => {
      val emb = t(s, d).embeddings
      // the batch residue (7k+3) is disjoint from the centroid seed
      // stride (10k), so the base keeps its coarse geometry
      val idx = Similarity.ivfPqAppend(
        Similarity.ivfPqBuild(emb.where(col("vec_id") % 7 =!= 3)),
        emb.where(col("vec_id") % 7 === 3))
      Similarity.ivfPqQuery(idx, emb.where(col("vec_id") % 70 === 3), emb)
        .orderBy("q_id", "rank")
    })(
      ivfPqQueryTwinSql(" AND vec_id % 7 <> 3", " AND vec_id % 7 <> 3", "vec_id % 70 = 3")),
    // the append path's rebuild trigger: per-cell residual energy of an
    // append batch vs the build-time baseline. The batch here is
    // deliberately OUT of distribution (embeddings scaled ×-2), so
    // drift ratios exceed the threshold and rebuild fires. HASH-exact
    // since round 11: stride centroids, cosine argmax and the
    // decimal-summed energies are all relational, so the twin
    // recomputes the drift ratio end to end (the ivfPqBuild PQ code
    // books never touch this output)
    Q("ann_drift", (s, d) => {
      val emb = t(s, d).embeddings
      val index = Similarity.ivfPqBuild(emb)
      val baseline = Similarity.cellResidualEnergy(index, emb)
      val shifted = emb.select(col("vec_id"),
        transform(col("embedding"), x => (x * lit(-2.0)).cast("float")).as("embedding"))
      Similarity.appendDrift(index, baseline, shifted)
        .select(col("cell"), col("n_batch"), round(col("drift_ratio"), 4).as("drift_r"),
          col("rebuild"))
        .orderBy("cell")
    })(
      // the drift ratio recomputed relationally end to end: stride
      // centroids, cosine-argmax assignment (cosine_topk's proven
      // device) and decimal-summed residual energies for both the
      // shifted batch and the corpus baseline — the PQ code books never
      // touch this output, so nothing approximate remains
      s"""WITH cents AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id % 10 = 0$coarseGuard),
         | batch AS (SELECT vec_id, list_transform(embedding, x -> CAST(x * -2.0 AS FLOAT)) AS embedding FROM embeddings),
         | corpus AS (SELECT vec_id, embedding FROM embeddings),
         | ${annEnergySql("b", "batch", "cents")},
         | ${annEnergySql("c", "corpus", "cents")}
         |SELECT b.cell, b.n AS n_batch, round(b.energy / c.energy, 4) AS drift_r,
         | (b.n >= 4 AND b.energy / c.energy >= 1.5) AS rebuild
         |FROM bagg b JOIN cagg c USING (cell) ORDER BY b.cell""".stripMargin),
    // the drift trigger ACTED ON: maintain an index through an
    // out-of-distribution batch (constant-offset shift = a coherent new
    // mode). appendDrift trips, ivfPqMaintain retrains over corpus ∪
    // batch, and the output is the refreshed per-cell baseline the next
    // drift check will compare against. HASH-exact since round 11: the
    // twin recomputes trigger AND rebuilt-geometry energies
    // relationally (old stride centroids → batch/baseline energies →
    // EXISTS trip → new stride centroids over corpus ∪ batch → fresh
    // baseline)
    Q("ann_rebuild", (s, d) => {
      val emb = t(s, d).embeddings
      val base = emb.where(col("vec_id") % 7 =!= 3)
      val ood = emb.where(col("vec_id") % 7 === 3).select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), x => (x + lit(3.0f)).cast("float")).as("embedding"))
      val idx = Similarity.ivfPqBuild(base)
      val baseline = Similarity.cellResidualEnergy(idx, base)
      val (_, newBaseline, rebuilt) = Similarity.ivfPqMaintain(idx, baseline, base, ood)
      newBaseline.select(col("cell"), col("n"),
          round(col("mean_energy"), 4).as("energy_r"), lit(rebuilt).as("rebuilt"))
        .orderBy("cell")
    })(
      // trigger AND rebuilt geometry recomputed relationally: old stride
      // centroids → batch/baseline energies → EXISTS trip → new stride
      // centroids over corpus ∪ batch → fresh per-cell baseline
      s"""WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 <> 3),
         | ood AS (SELECT vec_id + 1000000 AS vec_id,
         |   list_transform(embedding, x -> CAST(x + CAST(3.0 AS FLOAT) AS FLOAT)) AS embedding
         |   FROM embeddings WHERE vec_id % 7 = 3),
         | cents AS (SELECT vec_id AS cell, embedding AS ce FROM base WHERE vec_id % 10 = 0${coarseGuardOn("base")}),
         | ${annEnergySql("o", "ood", "cents")},
         | ${annEnergySql("s", "base", "cents")},
         | trip AS (SELECT count(*) > 0 AS tripped FROM oagg o JOIN sagg s USING (cell)
         |          WHERE o.n >= 4 AND o.energy / s.energy >= 1.5),
         | allv AS (SELECT * FROM base UNION ALL SELECT * FROM ood),
         | cents2 AS (SELECT vec_id AS cell, embedding AS ce FROM allv WHERE vec_id % 10 = 0${coarseGuardOn("allv")}),
         | ${annEnergySql("r", "allv", "cents2")}
         |SELECT cell, n, round(energy, 4) AS energy_r, (SELECT tripped FROM trip) AS rebuilt
         |FROM ragg ORDER BY cell""".stripMargin),
    Q("embedding_near_dups", (s, d) =>
      Similarity.cosineNearDupPairs(t(s, d).embeddings).orderBy("id_a", "id_b"))(
      """WITH s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS sim
        | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(sim, 4) AS sim_r FROM s WHERE sim >= 0.4
        |ORDER BY id_a, id_b""".stripMargin),
    // approximate (LSH-bucketed) variant — rows-only by design; recall
    // vs the exact pairs is asserted in SimilaritySpec
    Q("embedding_near_dups_lsh", (s, d) =>
      Similarity.cosineNearDupPairsLsh(t(s, d).embeddings).orderBy("id_a", "id_b")) {
      // embedding_near_dups_lsh CONVERTED from rows-only (round 12):
      // candidates co-bucketed in ANY of 8 four-plane tables, scored
      // exactly and thresholded — the brute embedding_near_dups twin
      // with the candidate cut replayed from the same inlined planes
      val keyed = (0 until 8).map(tb =>
        s"SELECT vec_id, $tb AS tbl, ${lshBucketSql("e", 4, tb)} AS bucket FROM v")
        .mkString(" UNION ALL ")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         | b AS ($keyed),
         | cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |          FROM b x JOIN b y ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
         | s AS (SELECT id_a, id_b, list_cosine_similarity(a.e, c.e) AS sim
         |       FROM cand JOIN v a ON a.vec_id = id_a JOIN v c ON c.vec_id = id_b)
         |SELECT id_a, id_b, round(sim, 4) AS sim_r FROM s WHERE sim >= 0.4
         |ORDER BY id_a, id_b""".stripMargin
    },
    // SemDeDup: cluster-then-compare semantic dedup — deterministic
    // stride centroids + greedy min-id survivor, hash-exact vs the twin
    Q("semantic_dedup", (s, d) =>
      Similarity.semanticDedup(t(s, d).embeddings).orderBy("vec_id"))(
      // same centroid stride (40), assignment tie-break (sim DESC, cid
      // ASC) and survivor rule as Similarity.semanticDedup
      """WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id % 40 = 0),
        | sims AS (SELECT e.vec_id, c.cid,
        |          list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.ce AS DOUBLE[])) AS sim
        |          FROM embeddings e CROSS JOIN c),
        | r AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM sims),
        | asg AS (SELECT e.vec_id, e.embedding, r.cid AS cell
        |         FROM r JOIN embeddings e USING (vec_id) WHERE rn = 1),
        | drops AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
        |           ON a.cell = b.cell AND a.vec_id < b.vec_id
        |           AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 12) >= 0.4)
        |SELECT vec_id, cell, vec_id NOT IN (SELECT vec_id FROM drops) AS kept
        |FROM asg ORDER BY vec_id""".stripMargin))

  /** The IVF candidate-and-rank CTE chain — shared by the ivf_topk
    * twin and the ann_recall_eval twin, ending at
    * `r(q_id, c_id, sim, rank)` over `v(vec_id, e)`. */
  private lazy val ivfRankCtes: String =
    """WITH cents AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 3200),
      | v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      | asg AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
      |   ORDER BY list_cosine_similarity(e, ce) DESC, cell) AS rn FROM v CROSS JOIN cents),
      | home AS (SELECT vec_id AS c_id, cell FROM asg WHERE rn = 1),
      | probe AS (SELECT vec_id AS q_id, cell FROM asg WHERE rn <= 4),
      | cand AS (SELECT DISTINCT q_id, c_id FROM probe JOIN home USING (cell) WHERE q_id <> c_id),
      | s AS (SELECT q_id, c_id, list_cosine_similarity(q.e, c.e) AS sim
      |       FROM cand JOIN v q ON q.vec_id = cand.q_id JOIN v c ON c.vec_id = cand.c_id),
      | r AS (SELECT q_id, c_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank FROM s)""".stripMargin

  /** Sign-LSH bucket key as DuckDB SQL over list column `eCol`
    * (DOUBLE[]): bit p of table `tableId`'s key is the sign of
    * <e, plane>, with the plane constants INLINED by
    * Similarity.planeSql — the SAME splitmix geometry the Spark plan
    * compiles in (verified bit-identical: DuckDB's list_dot_product
    * and VecDot both accumulate doubles sequentially). Bits are
    * disjoint, so the bitwise-OR fold reduces to a sum. */
  private def lshBucketSql(eCol: String, nPlanes: Int, tableId: Int,
                           dim: Int = 64): String =
    (0 until nPlanes).map { p =>
      s"(CASE WHEN list_dot_product($eCol, ${Similarity.planeSql(tableId * nPlanes + p, dim)}) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** The bitext_margin_lsh twin: the brute twin's margin chain fed
    * from the LSH candidate relation instead of the cross product —
    * per-table bucket keys on both sides (SAME plane sets), candidates
    * = co-bucketed (s, t) in ANY table. */
  private def bitextMarginLshTwinSql: String = {
    val nPlanes = 4; val nTables = 8
    def keyed(out: String, src: String, id: String) =
      (0 until nTables).map(tb =>
        s"SELECT $id, $tb AS tbl, ${lshBucketSql("e", nPlanes, tb)} AS bucket FROM $src")
        .mkString(s"$out AS (", " UNION ALL ", ")")
    s"""WITH s0 AS (SELECT vec_id AS s_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id % 2 = 0),
       | t0 AS (SELECT vec_id AS t_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id % 2 = 1),
       | ${keyed("sb", "s0", "s_id")},
       | ${keyed("tb", "t0", "t_id")},
       | cand AS (SELECT DISTINCT s_id, t_id FROM sb JOIN tb USING (tbl, bucket)),
       | sims AS (SELECT s_id, t_id,
       |   CAST(round(list_cosine_similarity(s0.e, t0.e), 9) AS DECIMAL(18,9)) AS sim
       |   FROM cand JOIN s0 USING (s_id) JOIN t0 USING (t_id)),
       |$MarginMineSql""".stripMargin
  }

  private lazy val coarseGuard: String = coarseGuardOn("embeddings")

  /** The assign-and-energy CTE chain shared by the ANN drift twins:
    * nearest stride centroid by cosine argmax (raw-double compare,
    * min-cell tie-break — the cosine_topk device) + per-cell
    * residual energies as rounded(9) DECIMAL sums with ONE final
    * division (cellResidualEnergy's own discipline). `vecs` must
    * expose (vec_id, embedding); `cents` (cell, ce). Emits CTEs
    * `${p}sims`/`${p}best`/`${p}e`/`${p}agg`. */
  private def annEnergySql(p: String, vecs: String, cents: String): String =
    s"""${p}sims AS (SELECT v.vec_id, c.cell,
       |   list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), CAST(c.ce AS DOUBLE[])) AS sim
       |   FROM $vecs v CROSS JOIN $cents c),
       | ${p}best AS (SELECT vec_id, cell FROM (
       |   SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
       |   FROM ${p}sims) z WHERE rn = 1),
       | ${p}e AS (SELECT b.cell,
       |   CAST(round(list_sum(list_transform(generate_series(1, len(v.embedding)), i ->
       |     CAST(v.embedding[i] - c.ce[i] AS DOUBLE) * CAST(v.embedding[i] - c.ce[i] AS DOUBLE))), 9) AS DECIMAL(38,9)) AS e2
       |   FROM ${p}best b JOIN $vecs v USING (vec_id) JOIN $cents c USING (cell)),
       | ${p}agg AS (SELECT cell, count(*) AS n,
       |   CAST(sum(e2) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS energy
       |   FROM ${p}e GROUP BY cell)""".stripMargin

  /** The kmeans_assign twin's CTE chain (v, cents0, three unrolled
    * Lloyd iterations, final assignment `af`), shared with the
    * cluster-balanced sampling twin. Generated from the same
    * (k, iters) the Spark operator defaults to. */
  private def KmeansCtes: String = {
    val (k, iters) = (8, 3)
    def assignCte(name: String, cents: String) =
      s"""$name AS (SELECT vec_id, code FROM (
         |  SELECT v.vec_id, c.code,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      round(2 * list_dot_product(v.x, c.c) - list_dot_product(c.c, c.c), 6) DESC,
         |      c.code ASC) AS rn
         |  FROM v CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""${assignCte(s"a$i", s"cents${i - 1}")},
         | m$i AS (SELECT a.code, s.pos,
         |    round(CAST(sum(CAST(round(v.x[s.pos], 10) AS DECIMAL(28,12))) AS DOUBLE) / count(*), 10) AS m
         |  FROM a$i a JOIN v USING (vec_id), unnest(generate_series(1, len(v.x))) AS s(pos)
         |  GROUP BY a.code, s.pos),
         | cl$i AS (SELECT code, list(m ORDER BY pos) AS c FROM m$i GROUP BY code),
         | cents$i AS (SELECT c0.code, coalesce(cl.c, c0.c) AS c
         |   FROM cents${i - 1} c0 LEFT JOIN cl$i cl USING (code))""".stripMargin
    }.mkString(",\n ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
       | cents0 AS (SELECT CAST(vec_id AS INT) AS code, x AS c FROM v WHERE vec_id < $k),
       | $steps,
       | ${assignCte("af", s"cents$iters")}""".stripMargin
  }

  /** DSIR's cut over `scored`: rank on the exact decimal score with a
    * doc_id tie-break, keep the top 25% (integer ceil). */
  private val DsirRankSql: String =
    """ nn AS (SELECT count(*) AS n FROM scored),
      | r AS (SELECT doc_id, n_tokens, sl, row_number() OVER (ORDER BY sl DESC, doc_id) AS rk FROM scored)
      |SELECT doc_id, n_tokens, round(CAST(sl AS DOUBLE), 6) AS dsir_logw,
      |  rk <= (nn.n * 250 + 999) // 1000 AS selected
      |FROM r CROSS JOIN nn ORDER BY doc_id""".stripMargin

  /** The recall@10 histogram of an approximate top-10 `approx`
    * (q_id, c_id) against the exact cosine truth, over the query sample
    * vec_id % 50 == 0: (hits, n_queries), hits 0..10, queries with no
    * hit restored at 0 by the left join. */
  private def recallHistogram(e: DataFrame, approx: DataFrame): DataFrame = {
    val queries = e.where(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(e, queries).select(col("q_id"), col("c_id"))
    val hits = approx.join(exact, Seq("q_id", "c_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
    queries.select(col("vec_id").as("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select(coalesce(col("hits"), lit(0L)).as("hits"))
      .groupBy(col("hits")).agg(count(lit(1)).as("n_queries"))
      .orderBy("hits")
  }

  /** [[recallHistogram]]'s twin over an approximate ranking's twin
    * `apxSql` (q_id, c_id). */
  private def recallTwinSql(apxSql: String): String =
    s"""WITH apx AS (SELECT q_id, c_id FROM ($apxSql) z),
       | ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       | exs AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id, list_cosine_similarity(q.e, c.e) AS sim
       |        FROM ev q JOIN ev c ON q.vec_id <> c.vec_id WHERE q.vec_id % 50 = 0),
       | exr AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rank FROM exs),
       | hits AS (SELECT a.q_id, count(*) AS hits
       |          FROM apx a JOIN (SELECT q_id, c_id FROM exr WHERE rank <= 10) b USING (q_id, c_id)
       |          GROUP BY 1),
       | allq AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id % 50 = 0)
       |SELECT CAST(coalesce(h.hits, 0) AS BIGINT) AS hits, count(*) AS n_queries
       |FROM allq LEFT JOIN hits h USING (q_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Margin mining over `sims` (s_id, t_id, sim): k=4 neighbourhood
    * masses, one rounded division per margin, mutual best pairs. */
  private val MarginMineSql: String =
    """ ks AS (SELECT s_id, sum(sim) AS degs FROM
      |   (SELECT s_id, sim, row_number() OVER (PARTITION BY s_id ORDER BY sim DESC, t_id) AS rn FROM sims)
      |   WHERE rn <= 4 GROUP BY 1),
      | kt AS (SELECT t_id, sum(sim) AS degt FROM
      |   (SELECT t_id, sim, row_number() OVER (PARTITION BY t_id ORDER BY sim DESC, s_id) AS rn FROM sims)
      |   WHERE rn <= 4 GROUP BY 1),
      | m AS (SELECT s_id, t_id,
      |   round((CAST(sim AS DOUBLE) * 2.0) / (CAST(ks.degs + kt.degt AS DOUBLE) / 4), 6) AS margin
      |   FROM sims JOIN ks USING (s_id) JOIN kt USING (t_id)),
      | fwd AS (SELECT s_id, t_id, margin, row_number() OVER (PARTITION BY s_id ORDER BY margin DESC, t_id) AS rns FROM m),
      | bwd AS (SELECT s_id, t_id, row_number() OVER (PARTITION BY t_id ORDER BY margin DESC, s_id) AS rnt FROM m)
      |SELECT f.s_id, f.t_id, f.margin, (b.rnt = 1) AS mutual
      |FROM fwd f JOIN bwd b USING (s_id, t_id)
      |WHERE f.rns = 1 AND f.margin >= 1.05 ORDER BY f.s_id""".stripMargin
}
