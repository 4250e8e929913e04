package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Retrieval}

class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (0L, "spark shuffles data and spark sorts data"),
    (1L, "hash joins beat sort merge joins on small builds"),
    (2L, "spark hash aggregate spills to disk"),
    (3L, "window functions rank rows per key"),
    (4L, "")
  ).toDF("doc_id", "text")

  test("invertedIndex: df/cf/postings agree with independent Scala index") {
    val got = Retrieval.invertedIndex(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap

    val exp = Seq(0L, 1L, 2L, 3L, 4L)
      .flatMap { id =>
        val text = docs.where($"doc_id" === id).head().getString(1)
        text.split("\\s+").map(_.replaceAll("[!-/:-@\\[-`{-~]", "").toLowerCase)
          .filter(_.nonEmpty).map(w => (w, id))
      }
      .groupBy(_._1)
      .map { case (w, occ) =>
        val byDoc = occ.groupBy(_._2)
        w -> ((byDoc.size.toLong, occ.size.toLong,
          byDoc.keys.toSeq.sorted.mkString(",")))
      }
    assert(got === exp)
  }

  test("bm25TopK: matches an independent Scala BM25 computation") {
    val terms = Seq("spark", "joins")
    val got = Retrieval.bm25TopK(docs, terms, k = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))

    // independent fold, same formula and constants
    val texts = Map(
      0L -> "spark shuffles data and spark sorts data",
      1L -> "hash joins beat sort merge joins on small builds",
      2L -> "spark hash aggregate spills to disk",
      3L -> "window functions rank rows per key",
      4L -> "")
    val words = texts.map { case (id, t) =>
      id -> t.split("\\s+").map(_.replaceAll("[!-/:-@\\[-`{-~]", "").toLowerCase).filter(_.nonEmpty).toSeq
    }
    val n = texts.size.toLong
    val avgdl = words.values.map(_.size).sum.toDouble / n
    val df = terms.map(t => t -> words.values.count(_.contains(t)).toLong).toMap
    val (k1, b) = (1.2, 0.75)
    def score(id: Long): Double = {
      val raw = terms.map { t =>
        val tf = words(id).count(_ == t).toLong
        if (tf == 0L) 0.0
        else math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0) *
          (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * words(id).size / avgdl))
      }.reduceLeft(_ + _)
      BigDecimal(raw).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val exp = texts.keys.toSeq.filter(id => terms.exists(words(id).contains))
      .map(id => id -> score(id))
      .sortBy { case (id, s) => (-s, id) }
    assert(got.toSeq === exp)
    // rarity wins: doc 1 holds the df=1 term 'joins' twice, beating the
    // df=2 term 'spark' twice in doc 0
    assert(got.head._1 === 1L)
  }

  test("maxDf cap is enforced: no posting list exceeds it, stop terms are dropped") {
    val full = Retrieval.invertedIndex(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(full.values.exists(_ > 1L), "fixture must contain a would-be stop term")
    val capped = Retrieval.invertedIndex(docs, maxDf = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every surviving posting list is within the cap…
    assert(capped.values.forall(_ <= 1L))
    // …and the survivors are EXACTLY the full index minus stop terms
    assert(capped === full.filter(_._2 <= 1L))
  }

  test("a query term above the cap is a stop term and contributes zero") {
    // 'spark' (df 2) is capped out at maxDf = 1; 'joins' (df 1) survives.
    // Doc 0 contains only 'spark' → absent; doc 1 scores on 'joins' alone.
    val got = Retrieval.bm25TopK(docs, Seq("spark", "joins"), k = 10, maxDf = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(got.map(_._1) === Seq(1L))
    val uncapped = Retrieval.bm25TopK(docs, Seq("joins"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(got === uncapped, "capped two-term query must equal the rare-term-only query")
  }

  test("persisted index lifecycle: bm25FromIndex over a reload == recompute, cap stored") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val terms = Seq("spark", "hash", "dup")
    // pick a cap that BINDS on this corpus: the median df
    val dfs = Retrieval.invIndexBuild(real).terms.collect().map(_.getLong(1)).sorted
    val cap = dfs(dfs.length / 2).toInt
    assert(dfs.last > cap, "cap must bind for this test to mean anything")
    val dir = java.nio.file.Files.createTempDirectory("graft-invidx-spec").toString
    Retrieval.invIndexWrite(Retrieval.invIndexBuild(real, maxDf = cap), dir)
    val reloaded = Retrieval.invIndexRead(spark, dir)
    // stored postings honor the cap: no term carries more rows than maxDf
    val maxPosting = reloaded.postings.groupBy("word").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(maxPosting <= cap)
    // the amortized path answers exactly what the recompute path answers
    val fromIdx = Retrieval.bm25FromIndex(reloaded, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val recomputed = Retrieval.bm25TopK(real, terms, k = 20, maxDf = cap)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromIdx === recomputed)
    assert(fromIdx.nonEmpty)
  }

  test("invIndexAppend: postings, df, stats and bm25 all equal a full rebuild over the union") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = real.where($"doc_id" % 5 =!= 2)
    val batch = real.where($"doc_id" % 5 === 2)
    // a cap that BINDS: the union corpus must push some base-legal term
    // over it, or the retire-on-crossing path is untested
    val baseDf = Retrieval.invIndexBuild(base).terms.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val unionDf = Retrieval.invIndexBuild(real).terms.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cap = baseDf.values.max.toInt // every base term legal; union can cross
    val crossers = unionDf.filter { case (w, d) => baseDf.getOrElse(w, 0L) <= cap && d > cap }
    assert(crossers.nonEmpty, "fixture must contain a term the append pushes over the cap")

    val appended = Retrieval.invIndexAppend(Retrieval.invIndexBuild(base, maxDf = cap), batch)
    val rebuilt = Retrieval.invIndexBuild(real, maxDf = cap)
    def postingsOf(i: Retrieval.InvIndex) = i.postings.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def termsOf(i: Retrieval.InvIndex) = i.terms.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(postingsOf(appended) === postingsOf(rebuilt))
    assert(termsOf(appended) === termsOf(rebuilt))
    // the crossing term's base postings were retired by the append
    assert(!postingsOf(appended).exists(p => crossers.contains(p._1)))
    // stats merge from exact integer sums: bit-identical row
    val (sa, sr) = (appended.stats.head(), rebuilt.stats.head())
    assert(sa.getLong(0) === sr.getLong(0))
    assert(sa.getLong(1) === sr.getLong(1))
    assert(sa.getDouble(2) === sr.getDouble(2))
    // and the query path agrees end-to-end
    val terms = Seq("spark", "hash", "dup")
    def bm25(i: Retrieval.InvIndex) = Retrieval.bm25FromIndex(i, terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(bm25(appended) === bm25(rebuilt))
  }

  test("invIndexAppend survives a persist/reload boundary on both sides") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = real.where($"doc_id" % 5 =!= 2)
    val batch = real.where($"doc_id" % 5 === 2)
    val (d0, d1) = (java.nio.file.Files.createTempDirectory("graft-invidx-a").toString,
      java.nio.file.Files.createTempDirectory("graft-invidx-b").toString)
    Retrieval.invIndexWrite(Retrieval.invIndexBuild(base, maxDf = 40), d0)
    val grown = Retrieval.invIndexAppend(Retrieval.invIndexRead(spark, d0), batch)
    assert(grown.maxDf === 40) // the cap rode the stats relation through the reload
    Retrieval.invIndexWrite(grown, d1)
    val terms = Seq("spark", "hash", "dup")
    val fromDisk = Retrieval.bm25FromIndex(Retrieval.invIndexRead(spark, d1), terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val recomputed = Retrieval.bm25TopK(real, terms, k = 20, maxDf = 40)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromDisk === recomputed)
    assert(fromDisk.nonEmpty)
  }

  test("duplicatedSpans: finds aligned cross-doc spans, ignores unique text") {
    val shared = "0123456789abcdefghijklmnopqrstuvwxyz" // 36 chars >= k
    val spanDocs = Seq(
      (10L, shared + " tail one"),
      (11L, shared + " other tail"),            // same span at offset 1
      (12L, "completely unrelated body of text that repeats nothing at all")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(spanDocs, k = 32, stride = 8, minDocs = 2).collect()
    assert(got.nonEmpty)
    // every reported span must occur in >= 2 docs, and the shared prefix is among them
    assert(got.forall(_.getLong(1) >= 2L))
    assert(got.exists(_.getString(0) == shared.substring(0, 32)))
    // nothing from the unique doc's vocabulary
    assert(!got.exists(_.getString(0).contains("unrelated")))
  }

  test("phraseSearch: consecutive positions only, counts occurrences, m=1 is tf") {
    val pd = Seq(
      (0L, "spark shuffles data and spark sorts data"),
      (1L, "data spark is not spark data reversed"),      // "spark data" once (pos 5-6)
      (2L, "spark data spark data spark data"),           // three occurrences
      (3L, "spark and then much later data"),             // words present, never adjacent
      (4L, "Spark, data!")                                // cleaning: punctuation stripped, lowered
    ).toDF("doc_id", "text")
    val got = Retrieval.phraseSearch(pd, Seq("spark", "data")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 3L, 4L -> 1L))
    // single-term phrase degenerates to term frequency
    val tf = Retrieval.phraseSearch(pd, Seq("spark")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tf === Map(0L -> 2L, 1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 1L))
    // a term absent from the corpus matches nothing
    assert(Retrieval.phraseSearch(pd, Seq("spark", "zzz")).isEmpty)
    // positions index the CLEANED stream: doc 0 "and spark sorts" ->
    // phrase (and, spark) is adjacent after cleaning
    val adj = Retrieval.phraseSearch(pd, Seq("and", "spark")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(adj === Map(0L -> 1L)) // doc 3 has "spark and", not "and spark"
  }

  test("tfidfHashedVectors: independent replay, unit norms, query top-k ranks shared-vocab docs first") {
    val dim = 16
    val got = Retrieval.tfidfHashedVectors(docs, dim = dim).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    // independent replay of the exact arithmetic
    def clean(s: String) = s.toLowerCase.split("[ \t\n\f\r]+").map(_.filterNot(c => c.toInt < 128 && !c.isLetterOrDigit && !c.isWhitespace)).filter(_.nonEmpty)
    val corpus = docs.collect().map(r => r.getLong(0) -> clean(r.getString(1))).filter(_._2.nonEmpty)
    val tfm = corpus.map { case (id, ws) => id -> ws.groupBy(identity).map { case (w, o) => w -> o.length } }.toMap
    val dfm = tfm.values.flatMap(_.keys).groupBy(identity).map { case (w, o) => w -> o.size }
    val n = tfm.size
    def r(x: Double, s: Int) = BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP)
    def bin(w: String) = (((w.map(c => 22L + 23L * (c.toLong - 14L)).sum % dim) + dim) % dim)
    val want = tfm.flatMap { case (id, tf) =>
      val byDim = tf.toSeq.map { case (w, f) =>
        bin(w) -> r(f.toDouble * r(math.log((n + 1.0) / (dfm(w) + 1.0)) + 1.0, 12).toDouble, 12)
      }.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sum.toDouble }
      val norm = math.sqrt(byDim.values.map(s => r(s * s, 12)).sum.toDouble)
      byDim.map { case (d, s) => (id, d) -> r(s / norm, 8).toDouble }
    }
    assert(got === want)
    // L2 norms are 1 up to rounding
    got.keys.map(_._1).toSeq.distinct.foreach { id =>
      val nn = got.collect { case ((i, _), v) if i == id => v * v }.sum
      assert(math.abs(nn - 1.0) < 1e-6, s"doc $id norm $nn")
    }
    // top-k replays exactly from the verified vectors (at dim=16 the
    // hashing trick genuinely collides unrelated words into shared
    // dims — the ranking is over hashed dims, not raw vocabulary, so
    // the spec asserts the exact dot-product ranking, not intuition)
    val top = Retrieval.tfidfQueryTopK(docs, queryId = 2L, k = 2, dim = dim).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    val qv = want.collect { case ((i, d), v) if i == 2L => d -> v }
    val wantTop = want.keys.map(_._1).toSeq.distinct.filter(_ != 2L).map { id =>
      val dot = qv.toSeq.map { case (d, v) =>
        want.get((id, d)).map(x => r(x * v, 12)).getOrElse(BigDecimal(0)) }.sum
      id -> r(dot.toDouble, 6).toDouble
    }.sortBy { case (id, c) => (-c, id) }.take(2)
    assert(top === wantTop, s"got $top want $wantTop")
  }

  test("mmrTopK: rank 1 is the cosine argmax, near-copies are demoted for coverage") {
    val pd = Seq(
      (0L, "spark shuffle hash join outline"),            // the query
      (1L, "spark shuffle hash join outline extra"),      // near-copy of the query
      (2L, "spark shuffle hash join outline extra words"),// near-copy of 1
      (3L, "window rank sort partition frame"),           // different topic, one shared dim at most
      (4L, "vector quantize embed cluster centroid")      // third distinct topic
    ).toDF("doc_id", "text")
    // diversity-heavy λ: at λ=0.7 a near-copy with high relevance can
    // legitimately still win rank 2; λ=0.3 makes the trade visible
    val mmr = Retrieval.mmrTopK(pd, queryId = 0L, k = 3, lam = 0.3, dim = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // rank 1 must equal the plain cosine top-1
    val cos1 = Retrieval.tfidfQueryTopK(pd, queryId = 0L, k = 1, dim = 32).head().getLong(0)
    assert(mmr.head._2 === cos1)
    // no document repeats, ranks are 1..k, query never selected
    assert(mmr.map(_._2).distinct.length === 3)
    assert(mmr.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(!mmr.map(_._2).contains(0L))
    // the diversification property: cosine alone ranks the near-copy
    // family 1, 2 ahead of the different-topic doc 3; MMR demotes the
    // twin BELOW doc 3 (doc 4 shares no hashed dim with the query, so
    // it sits outside the candidate frontier by design)
    val cosOrder = Retrieval.tfidfQueryTopK(pd, queryId = 0L, k = 3, dim = 32)
      .collect().map(_.getLong(0)).toSeq
    assert(cosOrder.take(2) === Seq(1L, 2L), cosOrder.toString) // twins dominate plain cosine
    val rankOf = mmr.map(r => r._2 -> r._1).toMap
    assert(rankOf(3L) < rankOf(2L), mmr.mkString(",")) // MMR breaks the twin monopoly
    // deterministic
    val again = Retrieval.mmrTopK(pd, queryId = 0L, k = 3, lam = 0.3, dim = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(again.toSeq === mmr.toSeq)
  }

  test("proximitySearch: exact min spans, slop verdicts, all-terms requirement") {
    import spark.implicits._
    val fx = Seq(
      (1L, "alpha beta gamma tail tail tail"),        // adjacent: span 3
      (2L, "alpha x x x beta x x gamma"),             // spread: span 8
      (3L, "alpha beta only two of the terms here"),  // gamma missing
      (4L, "gamma x beta x alpha"),                   // order-free: span 5
      (5L, "alpha x x x x x x x x beta gamma alpha")  // best choice uses LAST alpha: span 3
    ).toDF("doc_id", "text")
    val got = Retrieval.proximitySearch(fx, Seq("alpha", "beta", "gamma"), window = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(got.keySet === Set(1L, 2L, 4L, 5L)) // doc 3 lacks a term
    assert(got(1L) === ((3L, true)))
    assert(got(2L) === ((8L, false)))
    assert(got(4L) === ((5L, true)))
    assert(got(5L) === ((3L, true))) // min over occurrence choices, not first-hit
  }

  test("NdcgDiscounts: rank 1 undiscounted, strictly decreasing, 12-dp stable") {
    val w = queries.DedupSearchQueries.NdcgDiscounts
    assert(w.map(_._1) === (1L to 10L))
    assert(w.head._2 === 1.0) // 1/log2(2)
    assert(w.map(_._2).sliding(2).forall { case Seq(a, b) => a > b })
    // the interpolated constants ARE their own 12-dp rounding — the
    // twin's VALUES literals round-trip to the same doubles
    w.foreach { case (_, v) =>
      assert(BigDecimal(v).setScale(12, BigDecimal.RoundingMode.HALF_EVEN).toDouble === v)
    }
  }

  test("duplicatedSpans: stride grid is exhaustive at stride 1") {
    val a = "x" * 10 + "SHAREDSHAREDSHAREDSHAREDSHAREDXX" + "y" * 10
    val b = "z" * 3 + "SHAREDSHAREDSHAREDSHAREDSHAREDXX" + "w" * 20
    val d = Seq((0L, a), (1L, b)).toDF("doc_id", "text")
    // unaligned copies (offsets 11 vs 4): stride 1 must still find the span
    val got = Dedup.duplicatedSpans(d, k = 32, stride = 1, minDocs = 2).collect()
    assert(got.exists(_.getString(0) == "SHAREDSHAREDSHAREDSHAREDSHAREDXX"))
  }
}
