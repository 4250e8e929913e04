package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
  private val docs = Seq(
    (0L, base),
    (1L, base), // exact dup of 0
    (2L, base.replaceFirst("gamma", "GAMMA-PRIME")), // near dup of 0/1
    (3L, "totally different words entirely unrelated content here now " * 5),
    (4L, "the quick brown fox jumps over the lazy dog again and again " * 5)
  ).toDF("doc_id", "text")

  test("exactGroups: dup texts collapse to min id with multiplicity") {
    val m = Dedup.exactGroups(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(0L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("hashGroups agrees with exactGroups") {
    val m = Dedup.hashGroups(docs).collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(m === Map(0L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  /** Independent Scala Jaccard for the oracle. */
  private def jac(a: String, b: String, w: Int = 3): Double = {
    def sh(s: String) = s.split("\\s+").sliding(w).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    x.intersect(y).size.toDouble / x.union(y).size.toDouble
  }

  test("jaccardPairs matches independent set computation") {
    val rows = Dedup.jaccardPairs(docs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    val texts = Seq(base, base, base.replaceFirst("gamma", "GAMMA-PRIME"),
      "totally different words entirely unrelated content here now " * 5,
      "the quick brown fox jumps over the lazy dog again and again " * 5)
    for (((a, b), j) <- rows)
      assert(math.abs(j - jac(texts(a.toInt), texts(b.toInt))) < 1e-12, s"pair ($a,$b)")
    assert(rows.contains((0L, 1L)) && rows((0L, 1L)) === 1.0)
  }

  test("minhash LSH finds the exact and near duplicates, not the unrelated") {
    val pairs = Dedup.minhashNearDups(docs, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => b == 3L || b == 4L || a == 3L || a == 4L })
  }

  test("simhash: identical texts→identical prints; near-dup close in hamming") {
    val m = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(0L) === m(1L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(m(0L), m(2L)) < hamming(m(0L), m(3L)))
  }

  test("nearDupClusters: transitive closure over pairs, singletons keep their id") {
    // chain 1-2, 2-3 must collapse to ONE cluster even though (1,3) was
    // never scored; 5-6 a second cluster; 4 and 7 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val ids = (1L to 7L).toDF("doc_id")
    val got = Dedup.nearDupClusters(pairs, ids)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("starComponents == min-label propagation on chain/cluster/singleton fixtures") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val ids = (1L to 7L).toDF("doc_id")
    val got = graft.operators.Graph.starComponents(pairs, ids)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
    // a denser random-ish graph: two interleaved components + isolates
    val pairs2 = Seq((10L, 30L), (30L, 50L), (50L, 70L), (20L, 40L), (40L, 60L),
      (70L, 90L), (60L, 80L), (11L, 10L), (21L, 20L)).toDF("doc_a", "doc_b")
    val ids2 = (10L to 95L by 5L).toDF("doc_id").union(Seq(11L, 21L).toDF("doc_id"))
    val a = graft.operators.Graph.starComponents(pairs2, ids2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.nearDupClusters(pairs2, ids2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("starComponents: O(log n) rounds beat min-label's O(diameter) on a long chain") {
    // path graph 0-1-2-…-63: diameter 63. Min-label needs ~diameter
    // rounds; large-star/small-star contracts doubly-exponentially.
    val n = 64L
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ids = (0L until n).toDF("doc_id")
    val (starDf, starRounds) = graft.operators.Graph.starComponentsWithRounds(pairs, ids)
    val (mlDf, mlRounds) = Dedup.nearDupClustersWithRounds(pairs, ids)
    val star = starDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ml = mlDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === (0L until n).map(_ -> 0L).toMap)
    assert(star === ml)
    assert(starRounds <= 10, s"star rounds: $starRounds")
    assert(mlRounds >= 30, s"min-label rounds: $mlRounds") // the contrast the star form removes
    assert(starRounds < mlRounds)
  }

  test("editDistancePairs equals the brute-force cross product on a mixed fixture") {
    import org.apache.spark.sql.functions._
    val strs = Seq(
      (1L, "kitten"), (2L, "mitten"),   // ed 1 (gram path)
      (3L, "sitting"),                  // ed(kitten,sitting)=3 > 2: out
      (4L, "banana"), (5L, "bananas"),  // ed 1
      (6L, "aaaaaaaa"), (7L, "aaaaaaab"), // repeated grams: bag counting must keep this ed-1 pair
      (8L, "zzzz"), (9L, "zzzx"),       // both below certLen=6: the exact short tail
      (10L, "zzzzz"), (11L, "zzzzzz")   // short×long across the certLen boundary
    ).toDF("id", "s")
    val got = Dedup.editDistancePairs(strs, q = 2, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the operator covers ALL pairs — brute force with no length filter
    val want = strs.select(col("id").as("id_a"), col("s").as("s_a"))
      .crossJoin(strs.select(col("id").as("id_b"), col("s").as("s_b")))
      .where(col("id_a") < col("id_b") && levenshtein(col("s_a"), col("s_b")) <= 2)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b")).cast("long").as("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    assert(got === Set(
      (1L, 2L, 1L), (4L, 5L, 1L), (6L, 7L, 1L),          // certified gram-path pairs
      (8L, 9L, 1L), (8L, 10L, 1L), (9L, 10L, 2L),        // short-tail pairs
      (8L, 11L, 2L), (10L, 11L, 1L)))                     // across the boundary
  }

  test("editDistancePairs is lossless on real data: equals the cross product over part names") {
    import org.apache.spark.sql.functions._
    val names = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .groupBy(col("p_name")).agg(min(col("p_partkey")).as("id"))
      .select(col("id"), col("p_name").as("s"))
    val got = Dedup.editDistancePairs(names, q = 2, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = names.select(col("id").as("id_a"), col("s").as("s_a"))
      .crossJoin(names.select(col("id").as("id_b"), col("s").as("s_b")))
      .where(col("id_a") < col("id_b") && levenshtein(col("s_a"), col("s_b")) <= 2)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === brute)
    assert(got.nonEmpty)
  }

  test("priorityDedup: highest priority wins its digest group, min id on ties, payload carried") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha", 0L, "crawl"),   // beaten by doc 3's priority 5
      (3L, "alpha", 5L, "curated"),
      (9L, "alpha", 5L, "curated2"), // same priority as 3: min id 3 wins
      (4L, "beta", 1L, "only"),      // singleton survives regardless
      (7L, "gamma", 0L, "tie-lo"),   // equal priority: min id wins
      (8L, "gamma", 0L, "tie-hi")
    ).toDF("doc_id", "text", "priority", "src")
    val out = Dedup.priorityDedup(docs).collect()
      .map(r => r.getString(1) -> (r.getLong(0), r.getString(3))).toMap
    assert(out === Map(
      "alpha" -> (3L, "curated"),
      "beta" -> (4L, "only"),
      "gamma" -> (7L, "tie-lo")))
  }

  test("incrementalMinhashDedup: store near-dups drop, novel docs admit, batch-internal min id wins") {
    import spark.implicits._
    val corpusText = "the quick brown fox jumps over the lazy dog again and again today"
    val novelText = "completely different words about spark catalyst plans and shuffles here"
    val store = Dedup.bandKeys(Seq((1L, corpusText)).toDF("doc_id", "text"))
    val batch = Seq(
      (10L, corpusText),   // exact dup of stored doc 1: every band collides -> drop
      (11L, novelText),    // novel: admit
      (12L, novelText)     // exact dup of batch-mate 11 (lower id): drop
    ).toDF("doc_id", "text")
    val admitted = Dedup.incrementalMinhashDedup(batch, store)
      .collect().map(_.getLong(0)).toSet
    assert(admitted === Set(11L))
    // the ingest cycle closes: appending the admitted band keys makes a
    // replay of the same batch admit NOTHING
    val grown = store.unionByName(
      Dedup.bandKeys(batch.where(org.apache.spark.sql.functions.col("doc_id") === 11L)))
    assert(Dedup.incrementalMinhashDedup(batch, grown).isEmpty)
  }

  test("bestPerCluster keeps the highest-scoring member per family, min id on ties") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "cluster_id")
    val scored = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 7L), (5L, 2L), (6L, 2L))
      .toDF("doc_id", "score")
    val out = Dedup.bestPerCluster(clusters, scored).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map(1L -> (2L, 30L), 4L -> (4L, 7L), 5L -> (5L, 2L)))
  }

  test("duplicatedRegions coalesces flagged windows into maximal islands per document") {
    import spark.implicits._
    // X and Y are shared verbatim across both docs; every flank and
    // separator is unique to its doc, so only windows fully inside X
    // or Y flag — and the islands must be exactly X's and Y's extents
    val X = "THEQUICKBROWNFOXJUMPSOVERTHELAZYDOG!" // 36 chars at pos 11..46
    val Y = "ZZYYXXWWVVUUTTSS"                     // 16 chars at pos 57..72
    val docs = Seq(
      (1L, "qwertyuiop" + X + "0123456789" + Y),
      (2L, "poiuytrewq" + X + "9876543210" + Y)
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedRegions(docs, k = 8, stride = 1, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out === Set(
      (1L, 11L, 46L, 36L), (1L, 57L, 72L, 16L),
      (2L, 11L, 46L, 36L), (2L, 57L, 72L, 16L)))
  }

  test("resolveEntities: transitive fuzzy clusters, min-id canonical, singletons self-canonical") {
    import spark.implicits._
    val recs = Seq(
      // edit chain: each adjacent pair ≤ 2 edits, the ends are 3 apart
      // — only TRANSITIVITY puts all four in one entity
      (1L, "kitten"), (2L, "sitten"), (3L, "sittin"), (4L, "sitting"),
      (5L, "banana"), (6L, "bananas"),
      (7L, "zzzzzz")
    ).toDF("id", "s")
    val out = Dedup.resolveEntities(recs).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(out === Map(
      1L -> (1L, "kitten"), 2L -> (1L, "kitten"), 3L -> (1L, "kitten"), 4L -> (1L, "kitten"),
      5L -> (5L, "banana"), 6L -> (5L, "banana"),
      7L -> (7L, "zzzzzz")))
  }

  test("containmentPairs: a quote inside a long page scores ~1 directed, Jaccard misses it") {
    import spark.implicits._
    val quote = "alpha beta gamma delta epsilon zeta"        // 4 trigram shingles
    val page = ("x" + (1 to 40).map(i => s" w$i").mkString) + " " + quote + " tail end here"
    val fx = Seq((1L, quote), (2L, page), (3L, "totally unrelated words only here now"))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.containmentPairs(fx, minContainment = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    // all 4 of the quote's shingles appear in the page → C(quote→page)=1
    assert(got((1L, 2L)) === 1.0, got.toString)
    // the page's containment in the quote is small → direction filtered
    assert(!got.contains((2L, 1L)))
    assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // and symmetric Jaccard on the same pair is far below any dedup cut
    val j = graft.operators.Dedup.jaccardPairs(fx)
      .where(org.apache.spark.sql.functions.col("doc_a") === 1L &&
        org.apache.spark.sql.functions.col("doc_b") === 2L)
      .select("jaccard").collect().head.getDouble(0)
    assert(j < 0.1, s"jaccard $j")
  }

  test("winnowingFingerprints: coverage, density, detection guarantee, and hash decode") {
    import org.apache.spark.sql.functions.col
    val k = 3; val w = 4
    // two docs sharing one long run (>= w+k-1 = 6 tokens) embedded in
    // otherwise-disjoint text, one unrelated doc
    val shared = "the winnowing guarantee forces a shared fingerprint here"
    val fx = Seq(
      (1L, s"preface words before anything $shared and then a tail of doc one"),
      (2L, s"completely other opening tokens $shared closing differently two"),
      (3L, "unrelated content entirely disjoint vocabulary nothing matches at all right")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowingFingerprints(fx, k, w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // coverage: every w-window of full-window END positions contains a
    // selected position — the paper's density invariant (at least one
    // fingerprint per window means no gap of w grams goes unselected)
    for (doc <- Seq(1L, 2L, 3L)) {
      val nGrams = fx.where(col("doc_id") === doc).collect().head.getString(1)
        .split("\\s+").length - k + 1
      val sel = fps.filter(_._1 == doc).map(_._3).toSet
      for (start <- 0 to nGrams - w)
        assert((start until start + w).exists(p => sel.contains(p.toLong)),
          s"doc $doc: window at $start has no selected gram")
      // density: far fewer fingerprints than grams
      assert(sel.size < nGrams, s"doc $doc selected everything")
    }
    // detection guarantee: docs 1 and 2 share a fingerprint VALUE
    val f1 = fps.filter(_._1 == 1L).map(_._2).toSet
    val f2 = fps.filter(_._1 == 2L).map(_._2).toSet
    val f3 = fps.filter(_._1 == 3L).map(_._2).toSet
    assert((f1 & f2).nonEmpty, "shared 8-token run produced no shared fingerprint")
    assert((f1 & f3).isEmpty && (f2 & f3).isEmpty)
    // decode: each fp is the 40-bit md5 prefix of the gram at fp_pos
    val md = java.security.MessageDigest.getInstance("MD5")
    for ((doc, fp, pos) <- fps) {
      val toks = fx.where(col("doc_id") === doc).collect().head.getString(1).split("\\s+")
      val gram = toks.slice(pos.toInt, pos.toInt + k).mkString(" ")
      val hex = md.digest(gram.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(fp === java.lang.Long.parseLong(hex.take(10), 16), s"doc $doc pos $pos")
    }
    // and the match step finds exactly the planted pair
    val pairs = Dedup.winnowingNearDups(fx, k, w, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("winnowBatch: a re-posted copy in a later batch is rejected; mates by lower id; replay idempotent") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.IngestPipeline
    val store = java.nio.file.Files.createTempDirectory("winnow-spec-store").toString
    val out = java.nio.file.Files.createTempDirectory("winnow-spec-out").toString
    graft.streaming.BatchStore(store).seed(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, fp BIGINT")))
    val original = "the winnowing detector must catch this exact reposted paragraph later on"
    val b0 = Seq(
      (1L, original),
      (2L, "completely unrelated first batch content with enough tokens to fingerprint"),
      (3L, original + " trailing tweak")  // mate of 1 → rejected by lower-id rule
    ).toDF("doc_id", "text")
    val b1 = Seq(
      (10L, s"new preamble then $original and a tail"), // copy of ADMITTED 1 → rejected vs store
      (11L, "fresh second batch material sharing nothing with anything before now")
    ).toDF("doc_id", "text")
    IngestPipeline.winnowBatch(b0, 0L, store, out, minShared = 1)
    IngestPipeline.winnowBatch(b1, 1L, store, out, minShared = 1)
    def admitted = spark.read.parquet(out).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(admitted === Set(1L, 2L, 11L), admitted.toString)
    // replay: re-running batch 1 reads the store AS OF batch 1 and
    // overwrites its own commits — nothing duplicates, nothing flips
    IngestPipeline.winnowBatch(b1, 1L, store, out, minShared = 1)
    assert(admitted === Set(1L, 2L, 11L), admitted.toString)
  }
}
