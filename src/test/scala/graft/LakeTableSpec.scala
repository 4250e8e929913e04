package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ChangeData
import graft.sources.LakeTable

/** The transactional commit lifecycle: merge → pruned partial rewrite →
  * incremental re-stat → versioned snapshot, with time-travel reads.
  * The assertions are the lifecycle's three contracts: (1) a commit
  * rewrites and re-stats ONLY files whose key interval meets the
  * batch, (2) the committed snapshot equals the full-recompute merge,
  * (3) every old snapshot stays readable and unchanged. */
class LakeTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val base = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))

  /** Update/delete batch confined to keys [lo, hi] (delete on %7==3). */
  private def batch(lo: Long, hi: Long): DataFrame = base
    .where(col("c_custkey").between(lo, hi))
    .select(col("c_custkey"),
      when(col("c_custkey") % 7 === 3, "delete").otherwise("upsert").as("op"),
      when(col("c_custkey") % 7 === 3, lit(null).cast("string"))
        .otherwise(lit("MOVED")).as("c_mktsegment"),
      lit(null).cast("double").as("c_acctbal"))

  private def rows(df: DataFrame): Set[(Long, String, Double)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  test("commit rewrites only the files covering the batch keys and re-stats only those") {
    val dir = Files.createTempDirectory("graft-lake-prune").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8)
    val m0 = LakeTable.manifest(spark, dir, 0L).collect()
      .map(r => r.getString(0) -> r.toSeq).toMap
    val c = LakeTable.commitMerge(batch(10, 30), dir, "c_custkey", targetRowsPerFile = 40)
    assert(c.version === 1L)
    // a 21-key batch over an 8-file layout of 150 keys touches few files
    assert(c.filesRewritten < 8L, s"rewrote ${c.filesRewritten} of 8")
    assert(c.filesRewritten + c.filesCarried >= 8L - 1L)
    // carried manifest rows are VERBATIM v0 rows: same file, same stats
    // (proof the stats pass never touched them)
    val m1 = LakeTable.manifest(spark, dir, 1L).collect().map(r => r.getString(0) -> r.toSeq)
    val carried = m1.filter { case (f, _) => m0.contains(f) }
    assert(carried.length.toLong === c.filesCarried)
    carried.foreach { case (f, row) => assert(row === m0(f), s"re-stat'd carried file $f") }
  }

  test("manifests stay file-count-sized through a commit chain — the driver-collect bound") {
    // VERDICT r13 #7: every driver-side collect in LakeTable
    // materializes a manifest-class relation (one row per data file).
    // This pins the bound: through init + merge + compact commits the
    // manifest row count tracks the physical FILE count exactly and
    // never the table's row count — so the collects' driver cost is
    // governed by the layout (nFiles, compaction targets), not data.
    val dir = Files.createTempDirectory("graft-lake-msize").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8)
    LakeTable.commitMerge(batch(10, 30), dir, "c_custkey", targetRowsPerFile = 40)
    LakeTable.commitCompact(spark, dir, "c_custkey",
      smallFileRows = 10, targetRowsPerFile = 100)
    val nRows = base.count()
    LakeTable.versions(dir).foreach { v =>
      val m = LakeTable.manifest(spark, dir, v)
      val files = m.select(col("file")).collect().map(_.getString(0))
      // one manifest row per referenced physical file, each on disk
      assert(files.length === files.distinct.length, s"v$v: duplicate manifest rows")
      files.foreach { f =>
        val p = if (f.startsWith("file:")) java.net.URI.create(f).getPath else f
        assert(new java.io.File(p).isFile, s"v$v references missing file $f")
      }
      // the collect bound: manifest cardinality is layout-scale (≤ the
      // init fan-out plus per-commit rewrites), nowhere near row scale
      assert(files.length <= 16, s"v$v manifest grew to ${files.length} files")
      assert(files.length.toLong < nRows, s"v$v manifest at row scale")
    }
  }

  test("committed snapshot equals the full-recompute merge; v0 time-travels intact") {
    val dir = Files.createTempDirectory("graft-lake-merge").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8)
    LakeTable.commitMerge(batch(10, 30), dir, "c_custkey", targetRowsPerFile = 40)
    val want = rows(ChangeData.mergeApply(base, batch(10, 30), "c_custkey"))
    assert(rows(LakeTable.readLatest(spark, dir)) === want)
    // deletes really happened (10 % 7 == 3) and updates landed
    assert(LakeTable.readLatest(spark, dir).where(col("c_custkey") === 10L).isEmpty)
    assert(LakeTable.readLatest(spark, dir)
      .where(col("c_custkey") === 11L).head().getString(1) === "MOVED")
    // snapshot 0 still reads as the original table
    assert(rows(LakeTable.readVersion(spark, dir, 0L)) === rows(base))
  }

  test("an insert-only batch beyond every file interval touches zero base files") {
    val dir = Files.createTempDirectory("graft-lake-insert").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8)
    val inserts = base.where(col("c_custkey") % 50 === 0)
      .select((col("c_custkey") + 100000).as("c_custkey"), lit("upsert").as("op"),
        lit("NEW").as("c_mktsegment"), lit(0.0).as("c_acctbal"))
    val c = LakeTable.commitMerge(inserts, dir, "c_custkey", targetRowsPerFile = 40)
    // no base file's [min, max] contains a 100xxx key: all carried
    assert(c.filesCarried === 8L)
    val got = rows(LakeTable.readLatest(spark, dir))
    assert(got === rows(base) ++ rows(inserts.drop("op")))
  }

  test("compaction: small files merge content-identically, large files carry; no-op when none qualify") {
    val dir = Files.createTempDirectory("graft-lake-compact").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8) // ~19 rows per file
    // threshold below every file size: a commit happens, nothing rewrites
    val noop = LakeTable.commitCompact(spark, dir, "c_custkey",
      smallFileRows = 10, targetRowsPerFile = 200)
    assert(noop.version === 1L && noop.filesRewritten === 0L && noop.filesCarried === 8L)
    assert(rows(LakeTable.readLatest(spark, dir)) === rows(base))
    // threshold above every file size: all 8 merge into one clustered file
    val c = LakeTable.commitCompact(spark, dir, "c_custkey",
      smallFileRows = 25, targetRowsPerFile = 200)
    assert(c.version === 2L && c.filesRewritten === 1L && c.filesCarried === 0L)
    assert(LakeTable.manifest(spark, dir, 2L).count() === 1L)
    // a reader cannot tell compaction happened except by file count
    assert(rows(LakeTable.readLatest(spark, dir)) === rows(base))
  }

  test("pruned snapshot read: key range loads a strict file subset, answers exactly") {
    val dir = Files.createTempDirectory("graft-lake-pruned").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8)
    val (df, scanned, total) = LakeTable.scanPrunedVersion(spark, dir, 0L,
      Seq(("c_custkey", lit(50L), lit(70L))))
    assert(total === 8L && scanned < total, s"scanned $scanned of $total")
    assert(rows(df) === rows(base.where(col("c_custkey").between(50L, 70L))))
  }

  test("z-clustered init: a 2-D box prunes snapshots on BOTH stat'd dimensions, commits inherit stats") {
    val dir = Files.createTempDirectory("graft-lake-z").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8,
      statsCols = Seq("c_acctbal"),
      clusterExpr = Some(graft.sources.StatsManifest.zValueN(Seq(
        col("c_custkey"), floor(col("c_acctbal") / 500)))))
    val preds = Seq(
      ("c_custkey", lit(1L).cast("long"), lit(60L).cast("long")),
      ("c_acctbal", lit(0.0), lit(3000.0)))
    val (df, scanned, total) = LakeTable.scanPrunedVersion(spark, dir, 0L, preds)
    assert(total === 8L && scanned < total, s"scanned $scanned of $total")
    assert(rows(df) === rows(base.where(col("c_custkey").between(1L, 60L)
      && col("c_acctbal").between(0.0, 3000.0))))
    // a merge commit inherits the two-column stats schema from the manifest
    LakeTable.commitMerge(batch(10, 30), dir, "c_custkey", targetRowsPerFile = 40)
    val m1 = LakeTable.manifest(spark, dir, 1L)
    assert(m1.columns.contains("min_c_acctbal") && m1.columns.contains("max_c_acctbal"))
    assert(m1.where(col("min_c_acctbal").isNull).count() === 0L)
  }

  test("vacuum: old versions retire, unreferenced files delete, referenced survivors stay") {
    val dir = Files.createTempDirectory("graft-lake-vacuum").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8)
    LakeTable.commitMerge(batch(10, 30), dir, "c_custkey", targetRowsPerFile = 40)
    val want = rows(LakeTable.readLatest(spark, dir))
    def dataFiles() = Option(new java.io.File(s"$dir/files").listFiles()).toSeq.flatten
      .flatMap(c => Option(c.listFiles()).toSeq.flatten)
      .count(_.getName.endsWith(".parquet"))
    val before = dataFiles()
    val (droppedVersions, deletedFiles) = LakeTable.vacuum(spark, dir, keepVersions = 1, orphanAgeMs = 0L)
    assert(droppedVersions === 1L)
    // v1 carries most c0 files by reference: they must SURVIVE the
    // vacuum even though their commit dir is old; only the files the
    // merge replaced (v0-only) die
    assert(deletedFiles > 0L && deletedFiles < before.toLong, s"deleted $deletedFiles of $before")
    assert(dataFiles() === before - deletedFiles.toInt)
    assert(LakeTable.versions(dir) === Seq(1L))
    assert(rows(LakeTable.readLatest(spark, dir)) === want)
  }

  test("schema evolution: a batch-new column lands on touched rows, reads NULL on carried files") {
    val dir = Files.createTempDirectory("graft-lake-evolve").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8)
    val evolved = batch(10, 30).withColumn("c_tier",
      when(col("op") === "upsert", lit("gold")).otherwise(lit(null).cast("string")))
    val c = LakeTable.commitMerge(evolved, dir, "c_custkey", targetRowsPerFile = 40)
    assert(c.filesCarried > 0L, "evolution must coexist with carried old-schema files")
    val out = LakeTable.readLatest(spark, dir)
    assert(out.columns.contains("c_tier"))
    // upserted rows carry the value; rows in carried (old-schema) files read NULL
    assert(out.where(col("c_custkey") === 11L).head().getAs[String]("c_tier") === "gold")
    assert(out.where(col("c_custkey") === 100L).head().getAs[String]("c_tier") === null)
    // v0 time travel still reads the PRE-evolution schema
    assert(!LakeTable.readVersion(spark, dir, 0L).columns.contains("c_tier"))
  }

  test("a commit that deletes every row leaves a readable, writable empty table") {
    val dir = Files.createTempDirectory("graft-lake-empty").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 4)
    val deleteAll = base.select(col("c_custkey"), lit("delete").as("op"),
      lit(null).cast("string").as("c_mktsegment"), lit(null).cast("double").as("c_acctbal"))
    val c = LakeTable.commitMerge(deleteAll, dir, "c_custkey", targetRowsPerFile = 40)
    assert(c.filesCarried === 0L)
    // the emptied snapshot reads as zero rows WITH a schema
    val empty = LakeTable.readLatest(spark, dir)
    assert(empty.count() === 0L)
    assert(empty.columns.toSeq === Seq("c_custkey", "c_mktsegment", "c_acctbal"))
    // a compaction of the emptied table keeps it readable, with its schema
    LakeTable.commitCompact(spark, dir, "c_custkey", smallFileRows = 40L, targetRowsPerFile = 40L)
    val compacted = LakeTable.readLatest(spark, dir)
    assert(compacted.count() === 0L)
    assert(compacted.columns.toSeq === Seq("c_custkey", "c_mktsegment", "c_acctbal"))
    // and the table accepts the next commit (re-population)
    val inserts = base.limit(5).select(col("c_custkey"), lit("upsert").as("op"),
      col("c_mktsegment"), col("c_acctbal"))
    LakeTable.commitMerge(inserts, dir, "c_custkey", targetRowsPerFile = 40)
    assert(rows(LakeTable.readLatest(spark, dir)) === rows(base.limit(5)))
  }

  test("optimistic concurrency: the stale writer loses at publish, nothing partial is visible, retry lands") {
    val dir = Files.createTempDirectory("graft-lake-occ").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 4)
    val batchA = base.where(col("c_custkey") <= 50)
      .select(col("c_custkey"), lit("upsert").as("op"),
        lit("RACED-A").as("c_mktsegment"), lit(null).cast("double").as("c_acctbal"))
    val batchB = base.where(col("c_custkey").between(25, 75))
      .select(col("c_custkey"), lit("upsert").as("op"),
        lit(null).cast("string").as("c_mktsegment"), lit(-1.0).as("c_acctbal"))
    // both writers read snapshot v0; A publishes v1 first
    val a = LakeTable.commitMergeAt(batchA, dir, "c_custkey", 100, baseVersion = 0L)
    assert(a.version === 1L)
    // B merged against the now-STALE v0 — its publish of v1 must fail,
    // or A's commit would be silently lost (the lost-update anomaly)
    intercept[java.util.ConcurrentModificationException] {
      LakeTable.commitMergeAt(batchB, dir, "c_custkey", 100, baseVersion = 0L)
    }
    // the loser left nothing visible: versions and content are A's
    assert(LakeTable.versions(dir) === Seq(0L, 1L))
    assert(LakeTable.readLatest(spark, dir).where(col("c_mktsegment") === "RACED-A").count() > 0)
    // the writer loop retries: re-reads v1, re-merges B on top → v2
    val b = LakeTable.retrying(LakeTable.commitMerge(batchB, dir, "c_custkey", 100))
    assert(b.version === 2L)
    // final state holds BOTH effects — sequential A-then-B semantics
    val fin = LakeTable.readLatest(spark, dir)
    assert(fin.where(col("c_mktsegment") === "RACED-A" && col("c_custkey") <= 50).count() > 0)
    assert(fin.where(col("c_acctbal") === -1.0).count() ===
      base.where(col("c_custkey").between(25, 75)).count())
    assert(fin.count() === base.count())
    // the loser's attempt-scoped data files are unreferenced orphans —
    // vacuum sweeps them even while every snapshot is retained
    val (dropped, dead) = LakeTable.vacuum(spark, dir, keepVersions = 3, orphanAgeMs = 0L)
    assert(dropped === 0L)
    assert(dead > 0L, "the failed attempt's orphan files were not swept")
    // and the surviving snapshots still read exactly
    assert(rows(LakeTable.readVersion(spark, dir, 2L)) === rows(fin))
  }

  test("delete vector: O(delta) commit rewrites nothing, reads subtract, merge reconciles, compaction carries") {
    val dir = Files.createTempDirectory("graft-lake-dv").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 4)
    val m0 = LakeTable.manifest(spark, dir, 0L).select(col("file"))
      .collect().map(_.getString(0)).toSet
    // delete keys 10..40 via the vector — no data file touched
    val c1 = LakeTable.commitDelete(
      base.where(col("c_custkey").between(10, 40)).select(col("c_custkey")),
      dir, "c_custkey")
    assert(c1.filesRewritten === 0L)
    assert(LakeTable.manifest(spark, dir, 1L).select(col("file"))
      .collect().map(_.getString(0)).toSet === m0, "delete vector must not rewrite files")
    val nDel = base.where(col("c_custkey").between(10, 40)).count()
    assert(LakeTable.readLatest(spark, dir).count() === base.count() - nDel)
    assert(LakeTable.readLatest(spark, dir)
      .where(col("c_custkey").between(10, 40)).count() === 0L)
    // time travel: v0 still reads the full table
    assert(LakeTable.readVersion(spark, dir, 0L).count() === base.count())
    // pruned reads subtract the vector too
    val (pr, _, _) = LakeTable.scanPrunedVersion(spark, dir, 1L,
      Seq(("c_custkey", lit(1L), lit(60L))))
    assert(pr.where(col("c_custkey").between(10, 40)).count() === 0L)
    // a merge upserting key 20 must RESURRECT it (vector reconciled),
    // while the rest of the band stays deleted
    // note the non-null payload: the old row is LOGICALLY GONE behind
    // the vector, so this upsert is an insert — a NULL payload column
    // would land as NULL (there is no base value to coalesce back)
    LakeTable.commitMerge(
      base.where(col("c_custkey") === 20)
        .select(col("c_custkey"), lit("upsert").as("op"),
          lit("BACK").as("c_mktsegment"), lit(0.0).as("c_acctbal")),
      dir, "c_custkey", targetRowsPerFile = 40)
    val v2 = LakeTable.readLatest(spark, dir)
    assert(v2.where(col("c_custkey") === 20 && col("c_mktsegment") === "BACK").count() === 1L)
    assert(v2.where(col("c_custkey").between(10, 40)).count() === 1L)
    // compaction carries the vector verbatim: content identical after
    LakeTable.commitCompact(spark, dir, "c_custkey",
      smallFileRows = Long.MaxValue, targetRowsPerFile = 200)
    assert(rows(LakeTable.readLatest(spark, dir)) === rows(v2))
  }

  test("latest-image commits respect the delete vector: masked rows stay out, an image reclaims its key") {
    val dir = Files.createTempDirectory("graft-lake-dvlww").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 4)
    val nBand = base.where(col("c_custkey").between(10, 40)).count()
    LakeTable.commitDelete(
      base.where(col("c_custkey").between(10, 40)).select(col("c_custkey")),
      dir, "c_custkey")
    // a latest-image commit touching keys OUTSIDE the band: the band
    // must stay masked (vector carried), the images must land
    val img1 = base.where(col("c_custkey").between(60, 70))
      .select(col("c_custkey"), lit("ZZZ-LWW1").as("c_mktsegment"), col("c_acctbal"))
    LakeTable.commitLatestImageAt(img1, dir, "c_custkey",
      Seq("c_mktsegment", "c_acctbal"), targetRowsPerFile = 40, version = 2L)
    val v2 = LakeTable.readLatest(spark, dir)
    assert(v2.where(col("c_custkey").between(10, 40)).count() === 0L,
      "vector-masked rows resurrected through a latest-image commit")
    assert(v2.where(col("c_mktsegment") === "ZZZ-LWW1").count() === 11L)
    assert(v2.count() === base.count() - nBand)
    // an image FOR a masked key reclaims it from the vector
    val img2 = base.where(col("c_custkey") === 20)
      .select(col("c_custkey"), lit("ZZZ-LWW2").as("c_mktsegment"), col("c_acctbal"))
    LakeTable.commitLatestImageAt(img2, dir, "c_custkey",
      Seq("c_mktsegment", "c_acctbal"), targetRowsPerFile = 40, version = 3L)
    val v3 = LakeTable.readLatest(spark, dir)
    assert(v3.where(col("c_custkey") === 20 && col("c_mktsegment") === "ZZZ-LWW2").count() === 1L)
    assert(v3.where(col("c_custkey").between(10, 40)).count() === 1L)
  }

  test("a replayed latest-image version keeps the files a later version carries") {
    val dir = Files.createTempDirectory("graft-lake-replay").toString
    val payload = Seq("c_mktsegment", "c_acctbal")
    LakeTable.commitLatestImageAt(base, dir, "c_custkey", payload,
      targetRowsPerFile = 40, version = 0L)
    val img1 = base.where(col("c_custkey") <= 5)
      .select(col("c_custkey"), lit("ZZZ-LWW1").as("c_mktsegment"), col("c_acctbal"))
    val c1 = LakeTable.commitLatestImageAt(img1, dir, "c_custkey", payload,
      targetRowsPerFile = 40, version = 1L)
    assert(c1.filesCarried > 0L)
    val v1 = rows(LakeTable.readVersion(spark, dir, 1L))
    // batch 0 re-delivered after batch 1 committed: it replaces its own
    // version and leaves the files version 1 carries from it in place
    LakeTable.commitLatestImageAt(base, dir, "c_custkey", payload,
      targetRowsPerFile = 40, version = 0L)
    assert(LakeTable.versions(dir) === Seq(0L, 1L))
    assert(rows(LakeTable.readVersion(spark, dir, 0L)) === rows(base))
    assert(rows(LakeTable.readVersion(spark, dir, 1L)) === v1)
  }

  test("change feed: classified O(Δ)-file diff; compaction invisible; vector flips surface; replay reproduces the table") {
    val dir = Files.createTempDirectory("graft-lake-cdf").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8)
    LakeTable.commitMerge(batch(10, 30), dir, "c_custkey", targetRowsPerFile = 40)
    val feed = LakeTable.changesBetween(spark, dir, 0L, 1L, "c_custkey")
    // deletes are exactly the %7==3 band keys, with their PRE images
    val dels = feed.where(col("_op") === "delete")
    assert(dels.collect().map(_.getLong(0)).toSet ===
      (10L to 30L).filter(_ % 7 == 3).toSet)
    assert(dels.where(col("c_mktsegment") === "MOVED").isEmpty) // pre, not post
    // every surviving band key yields an update pre+post pair
    val updKeys = (10L to 30L).filterNot(_ % 7 == 3).toSet
    Seq("update_pre", "update_post").foreach { op =>
      assert(feed.where(col("_op") === op).collect().map(_.getLong(0)).toSet === updKeys)
    }
    feed.where(col("_op") === "update_post").collect()
      .foreach(r => assert(r.getString(1) === "MOVED"))
    // post images KEEP the base balance (NULL payload = keep), pre == base
    val baseBal = base.where(col("c_custkey") === 11L).head().getDouble(2)
    assert(feed.where(col("_op") === "update_post" && col("c_custkey") === 11L)
      .head().getDouble(2) === baseBal)
    // rewritten-but-unchanged rows (rest of the touched files' ranges)
    // never surface — the feed is change-sized, not rewrite-sized
    assert(feed.where(!col("c_custkey").between(10, 30)).isEmpty)
    // a compaction commit feeds NOTHING (reader invisibility)
    LakeTable.commitCompact(spark, dir, "c_custkey", smallFileRows = 40, targetRowsPerFile = 1000)
    assert(LakeTable.changesBetween(spark, dir, 1L, 2L, "c_custkey").isEmpty)
    // a delete-VECTOR commit (zero rewrites) feeds the masked band as
    // deletes with real pre images read from interval-pruned carried files
    val band = base.where(col("c_custkey").between(100, 110))
    val dv = LakeTable.commitDelete(band.select(col("c_custkey")), dir, "c_custkey")
    assert(dv.filesRewritten === 0L)
    val dvFeed = LakeTable.changesBetween(spark, dir, 2L, 3L, "c_custkey")
    assert(dvFeed.select("_op").distinct().collect().map(_.getString(0)).toSeq === Seq("delete"))
    assert(rows(dvFeed.drop("_op")) === rows(band))
    // composite v0→v3 feed replayed over v0 reproduces v3 exactly
    val all = LakeTable.changesBetween(spark, dir, 0L, 3L, "c_custkey")
    val replay = all.where(col("_op").isin("insert", "update_post"))
      .select(col("c_custkey"), lit("upsert").as("op"), col("c_mktsegment"), col("c_acctbal"))
      .unionByName(all.where(col("_op") === "delete")
        .select(col("c_custkey"), lit("delete").as("op"),
          lit(null).cast("string").as("c_mktsegment"), lit(null).cast("double").as("c_acctbal")))
    assert(rows(ChangeData.mergeApply(base, replay, "c_custkey")) ===
      rows(LakeTable.readLatest(spark, dir)))
  }

  test("change feed across an evolving commit: post images carry the new column, pre images read it NULL") {
    val dir = Files.createTempDirectory("graft-lake-cdf-ev").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8)
    val evolved = batch(10, 30).withColumn("c_tier",
      when(col("op") === "upsert", lit("GOLD")).otherwise(lit(null).cast("string")))
    LakeTable.commitMerge(evolved, dir, "c_custkey", targetRowsPerFile = 40)
    val feed = LakeTable.changesBetween(spark, dir, 0L, 1L, "c_custkey")
    assert(feed.columns.contains("c_tier"))
    assert(feed.where(col("_op") === "update_post").collect()
      .forall(_.getAs[String]("c_tier") === "GOLD"))
    assert(feed.where(col("_op") === "update_pre" && col("c_tier").isNotNull).isEmpty)
  }

  test("a replica synced from the change feed alone tracks every snapshot kind") {
    val dir = Files.createTempDirectory("graft-lake-sync").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8)
    LakeTable.commitMerge(batch(10, 30), dir, "c_custkey", targetRowsPerFile = 40)
    LakeTable.commitDelete(
      base.where(col("c_custkey").between(100, 105)).select(col("c_custkey")),
      dir, "c_custkey")
    LakeTable.commitCompact(spark, dir, "c_custkey", smallFileRows = 40, targetRowsPerFile = 1000)
    LakeTable.commitMerge(batch(120, 130), dir, "c_custkey", targetRowsPerFile = 40)
    // bootstrap at v0, then apply ONLY feeds — CDC replication
    var replica = LakeTable.readVersion(spark, dir, 0L).localCheckpoint(true)
    LakeTable.versions(dir).sliding(2).foreach { case Seq(a, b) =>
      val feed = LakeTable.changesBetween(spark, dir, a, b, "c_custkey")
      val asBatch = feed.where(col("_op").isin("insert", "update_post"))
        .select(col("c_custkey"), lit("upsert").as("op"), col("c_mktsegment"), col("c_acctbal"))
        .unionByName(feed.where(col("_op") === "delete")
          .select(col("c_custkey"), lit("delete").as("op"),
            lit(null).cast("string").as("c_mktsegment"), lit(null).cast("double").as("c_acctbal")))
      replica = ChangeData.mergeApply(replica, asBatch, "c_custkey").localCheckpoint(true)
      assert(rows(replica) === rows(LakeTable.readVersion(spark, dir, b)),
        s"replica diverged syncing v$a -> v$b")
    }
  }

  test("history reads row counts off the manifests, subtracting delete vectors") {
    val dir = Files.createTempDirectory("graft-lake-hist").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8)
    LakeTable.commitDelete(
      base.where(col("c_custkey").between(1, 5)).select(col("c_custkey")), dir, "c_custkey")
    LakeTable.commitCompact(spark, dir, "c_custkey", smallFileRows = 40, targetRowsPerFile = 1000)
    val h = LakeTable.history(spark, dir).orderBy("version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = base.count()
    assert(h(0) === ((0L, 8L, n)))
    assert(h(1) === ((1L, 8L, n - 5)))       // vector subtracts, zero rewrites
    assert(h(2)._3 === n - 5)                // compaction preserves the reader count
    assert(h(2)._2 < 8L)                     // while shrinking the file count
    // a merge upserting a NEIGHBOR key rewrites the masked keys' file:
    // their rows drop physically and their vector entries retire with
    // them, so history cannot double-count and stays == the reader
    LakeTable.commitMerge(
      base.where(col("c_custkey") === 10).select(col("c_custkey"),
        lit("upsert").as("op"), lit("X").as("c_mktsegment"),
        lit(null).cast("double").as("c_acctbal")),
      dir, "c_custkey", targetRowsPerFile = 40)
    val h3 = LakeTable.history(spark, dir).orderBy("version").collect()
    assert(h3.last.getLong(2) === LakeTable.readLatest(spark, dir).count())
  }

  test("bloom store covers an emptied table's schema-bearing file; lookups return empty, not an error") {
    val dir = Files.createTempDirectory("graft-lake-bloom0").toString
    val small = base.limit(20)
    LakeTable.init(small, dir, "c_custkey", nFiles = 2)
    LakeTable.commitMerge(
      small.select(col("c_custkey"), lit("delete").as("op"),
        lit(null).cast("string").as("c_mktsegment"),
        lit(null).cast("double").as("c_acctbal")),
      dir, "c_custkey", targetRowsPerFile = 40)
    assert(LakeTable.ensureBlooms(spark, dir, "c_acctbal") === 1L) // the 0-row file
    assert(LakeTable.ensureBlooms(spark, dir, "c_acctbal") === 0L) // converged
    val (rows0, hits, total) = LakeTable.lookupVersion(spark, dir, 1L, "c_acctbal", 123.45)
    assert(rows0.isEmpty && hits === 0L && total === 1L)
  }

  test("bloom store: commits bloom only their new files; lookups are exact, skip files, honor the vector") {
    val dir = Files.createTempDirectory("graft-lake-bloom").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8)
    assert(LakeTable.ensureBlooms(spark, dir, "c_acctbal") === 8L)
    assert(LakeTable.ensureBlooms(spark, dir, "c_acctbal") === 0L) // idempotent
    val c = LakeTable.commitMerge(batch(10, 30), dir, "c_custkey", targetRowsPerFile = 40)
    // index maintenance cost == the commit's rewritten files, not the table
    assert(LakeTable.ensureBlooms(spark, dir, "c_acctbal") === c.filesRewritten)
    // exactness: the lookup equals the plain filter, while skipping files
    val probe = base.where(col("c_custkey") === 42).head().getDouble(2)
    val (got, hits, total) = LakeTable.lookupVersion(spark, dir, 1L, "c_acctbal", probe)
    assert(rows(got) === rows(LakeTable.readLatest(spark, dir)
      .where(col("c_acctbal") === probe)))
    assert(got.count() >= 1L)
    assert(hits < total, s"blooms skipped nothing ($hits of $total)")
    // a delete-vector commit hides the row from lookups with no rewrite
    LakeTable.commitDelete(base.where(col("c_custkey") === 42)
      .select(col("c_custkey")), dir, "c_custkey")
    assert(LakeTable.ensureBlooms(spark, dir, "c_acctbal") === 0L)
    val (gone, _, _) = LakeTable.lookupVersion(spark, dir, 2L, "c_acctbal", probe)
    assert(gone.where(col("c_custkey") === 42).isEmpty)
    // an uncovered store refuses instead of silently dropping rows
    intercept[IllegalArgumentException] {
      LakeTable.lookupVersion(spark, dir, 2L, "c_mktsegment", "BUILDING")
    }
  }

  test("shallow clone: zero data copied, reads equal, both tables then diverge independently") {
    val src = Files.createTempDirectory("graft-lake-src").toString
    val cln = Files.createTempDirectory("graft-lake-cln").toString
    LakeTable.init(base, src, "c_custkey", nFiles = 8)
    LakeTable.commitMerge(batch(10, 30), src, "c_custkey", targetRowsPerFile = 40)
    assert(LakeTable.cloneShallow(spark, src, cln) === 1L)
    // the clone reads the source's state without holding any data file
    assert(rows(LakeTable.readLatest(spark, cln)) === rows(LakeTable.readLatest(spark, src)))
    assert(!new java.io.File(s"$cln/files").exists())
    // commits diverge: clone-side merge leaves the source untouched...
    val srcBefore = rows(LakeTable.readLatest(spark, src))
    LakeTable.commitMerge(batch(50, 60), cln, "c_custkey", targetRowsPerFile = 40)
    assert(rows(LakeTable.readLatest(spark, src)) === srcBefore)
    assert(rows(LakeTable.readLatest(spark, cln)) ===
      rows(ChangeData.mergeApply(ChangeData.mergeApply(base, batch(10, 30), "c_custkey"),
        batch(50, 60), "c_custkey")))
    // ...and a source-side merge leaves the clone untouched
    val clnBefore = rows(LakeTable.readLatest(spark, cln))
    LakeTable.commitMerge(batch(100, 110), src, "c_custkey", targetRowsPerFile = 40)
    assert(rows(LakeTable.readLatest(spark, cln)) === clnBefore)
    // the clone's vacuum never deletes the source's files
    LakeTable.vacuum(spark, cln, keepVersions = 1, orphanAgeMs = 0)
    assert(rows(LakeTable.readLatest(spark, cln)) === clnBefore)
    assert(rows(LakeTable.readVersion(spark, src, 1L)) === srcBefore)
  }

  test("versionAsOf resolves publication-time timestamps to the right snapshot") {
    val dir = Files.createTempDirectory("graft-lake-asof").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8)
    LakeTable.commitMerge(batch(10, 30), dir, "c_custkey", targetRowsPerFile = 40)
    LakeTable.commitMerge(batch(50, 60), dir, "c_custkey", targetRowsPerFile = 40)
    // pin publication mtimes so the probe points are deterministic
    def vDir(v: Long) = new java.io.File(f"$dir/v$v%09d")
    Seq(0L, 1L, 2L).foreach(v => assert(vDir(v).setLastModified(1000000L * (v + 1))))
    assert(LakeTable.versionAsOf(dir, 1000000L) === 0L)      // exactly at publish
    assert(LakeTable.versionAsOf(dir, 2500000L) === 1L)      // between publishes
    assert(LakeTable.versionAsOf(dir, Long.MaxValue) === 2L) // latest
    intercept[IllegalArgumentException](LakeTable.versionAsOf(dir, 999999L))
  }

  test("recluster: layout evolves to the new predicate, rows identical, vector reconciled, history intact") {
    val dir = Files.createTempDirectory("graft-lake-recl").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8, statsCols = Seq("c_acctbal"))
    LakeTable.commitDelete(
      base.where(col("c_custkey").between(1, 10)).select(col("c_custkey")),
      dir, "c_custkey")
    val before = rows(LakeTable.readLatest(spark, dir))
    // an acctbal box on the custkey-clustered layout prunes poorly
    val pred = Seq(("c_acctbal", lit(0.0), lit(1000.0)))
    val (_, hits0, _) = LakeTable.scanPrunedVersion(spark, dir, 1L, pred)
    LakeTable.commitRecluster(spark, dir, "c_custkey", col("c_acctbal"),
      targetRowsPerFile = 20)
    // same table to every reader...
    assert(rows(LakeTable.readLatest(spark, dir)) === before)
    // ...but the box now prunes on the evolved layout
    val (pruned, hits1, total1) = LakeTable.scanPrunedVersion(spark, dir, 2L, pred)
    assert(hits1 < hits0, s"recluster did not improve pruning: $hits1 vs $hits0 of $total1")
    assert(rows(pruned) === before.filter(r => r._3 >= 0.0 && r._3 <= 1000.0))
    // the full rewrite reconciled the vector physically — none carried
    assert(!new java.io.File(f"$dir/v${2L}%09d/_deletes").exists())
    // pre-recluster snapshots stay as committed
    assert(rows(LakeTable.readVersion(spark, dir, 0L)) === rows(base))
    // reclustering an EMPTIED table keeps it readable and writable
    // (the landCommit schema-bearing-file guard, not a bare write)
    val edir = Files.createTempDirectory("graft-lake-recl0").toString
    // key predicates, not limit(): every re-execution sees the SAME rows
    val small = base.where(col("c_custkey") <= 10)
    LakeTable.init(small, edir, "c_custkey", nFiles = 2)
    LakeTable.commitDelete(small.select(col("c_custkey")), edir, "c_custkey")
    LakeTable.commitRecluster(spark, edir, "c_custkey", col("c_acctbal"),
      targetRowsPerFile = 20)
    assert(LakeTable.readLatest(spark, edir).isEmpty)
    LakeTable.commitMerge(
      small.where(col("c_custkey") <= 3)
        .select(col("c_custkey"), lit("upsert").as("op"),
          col("c_mktsegment"), col("c_acctbal")),
      edir, "c_custkey", targetRowsPerFile = 20)
    assert(LakeTable.readLatest(spark, edir).count() === 4L) // keys 0..3
  }

  test("CHECK constraint: a violating batch aborts with nothing published; a clean batch commits") {
    val dir = Files.createTempDirectory("graft-lake-check").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8)
    val check = col("c_mktsegment").isNotNull && col("c_custkey") < 100000L
    // the insert tranche lands at key+100000 — violates the key cap
    val bad = batch(10, 30).unionByName(
      base.where(col("c_custkey") === 40)
        .select((col("c_custkey") + 100000).as("c_custkey"), lit("upsert").as("op"),
          lit("NEW").as("c_mktsegment"), lit(0.0).as("c_acctbal")))
    val before = rows(LakeTable.readLatest(spark, dir))
    intercept[IllegalStateException] {
      LakeTable.commitMergeChecked(bad, dir, "c_custkey",
        targetRowsPerFile = 40, check = check)
    }
    // atomic abort: no new version, table unchanged
    assert(LakeTable.versions(dir) === Seq(0L))
    assert(rows(LakeTable.readLatest(spark, dir)) === before)
    // a NULL check result counts as a violation, like SQL CHECK: an
    // INSERTED row (no base to coalesce) with a null balance makes
    // `c_acctbal > 0` evaluate to NULL, which must reject
    val nulling = base.limit(1)
      .select(lit(99999L).as("c_custkey"), lit("upsert").as("op"),
        lit("OK").as("c_mktsegment"), lit(null).cast("double").as("c_acctbal"))
    intercept[IllegalStateException] {
      LakeTable.commitMergeChecked(nulling, dir, "c_custkey",
        targetRowsPerFile = 40, check = col("c_acctbal") > 0)
    }
    // a clean batch passes through the same path
    val c = LakeTable.commitMergeChecked(batch(10, 30), dir, "c_custkey",
      targetRowsPerFile = 40, check = check)
    assert(c.version === 1L)
    assert(rows(LakeTable.readLatest(spark, dir)) ===
      rows(ChangeData.mergeApply(base, batch(10, 30), "c_custkey")))
  }

  test("commits chain: every intermediate snapshot stays readable as committed") {
    val dir = Files.createTempDirectory("graft-lake-chain").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8)
    LakeTable.commitMerge(batch(10, 30), dir, "c_custkey", targetRowsPerFile = 40)
    val v1Snapshot = rows(LakeTable.readVersion(spark, dir, 1L))
    val c2 = LakeTable.commitMerge(batch(100, 130), dir, "c_custkey", targetRowsPerFile = 40)
    assert(c2.version === 2L)
    assert(c2.filesRewritten < c2.filesRewritten + c2.filesCarried)
    // v1 unchanged by the later commit
    assert(rows(LakeTable.readVersion(spark, dir, 1L)) === v1Snapshot)
    // v2 equals the two-step fold
    val step1 = ChangeData.mergeApply(base, batch(10, 30), "c_custkey")
    val want = rows(ChangeData.mergeApply(step1, batch(100, 130), "c_custkey"))
    assert(rows(LakeTable.readLatest(spark, dir)) === want)
    assert(LakeTable.versions(dir) === Seq(0L, 1L, 2L))
  }

  test("OCC: delete/compact/recluster lose a race like merge does, and their retry loops land on the winner") {
    val dir = Files.createTempDirectory("graft-lake-occ-all").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8)
    // a foreground merge publishes v1 while the maintenance jobs still
    // hold snapshot v0 — each stale publish of v1 must fail, leaving
    // versions and content exactly the winner's
    LakeTable.commitMerge(batch(10, 30), dir, "c_custkey", targetRowsPerFile = 40)
    val afterMerge = rows(LakeTable.readLatest(spark, dir))
    intercept[java.util.ConcurrentModificationException] {
      LakeTable.commitCompactAt(spark, dir, "c_custkey",
        smallFileRows = 1000L, targetRowsPerFile = 500L, v = 0L)
    }
    assert(LakeTable.versions(dir) === Seq(0L, 1L))
    assert(rows(LakeTable.readLatest(spark, dir)) === afterMerge)
    // the retry loop re-reads v1 and re-selects ITS small files: the
    // compaction lands content-identical on top of the merge
    val c2 = LakeTable.retrying(LakeTable.commitCompact(spark, dir, "c_custkey",
      smallFileRows = 1000L, targetRowsPerFile = 500L))
    assert(c2.version === 2L)
    assert(rows(LakeTable.readLatest(spark, dir)) === afterMerge)
    // delete racing: stale against v1 (v2 already exists) → conflict;
    // the retry re-reads v2 and unions its keys into THAT vector
    val delKeys = base.where(col("c_custkey") === 50L).select(col("c_custkey"))
    intercept[java.util.ConcurrentModificationException] {
      LakeTable.commitDeleteAt(delKeys, dir, "c_custkey", v = 1L)
    }
    val c3 = LakeTable.retrying(LakeTable.commitDelete(delKeys, dir, "c_custkey"))
    assert(c3.version === 3L)
    assert(LakeTable.readLatest(spark, dir).where(col("c_custkey") === 50L).isEmpty)
    assert(rows(LakeTable.readLatest(spark, dir)) ===
      afterMerge.filterNot(_._1 == 50L))
    // recluster racing: stale against v2 (v3 exists) → conflict; the
    // retry rewrites the WINNING snapshot (vector reconciled: key 50
    // stays gone through the full rewrite)
    intercept[java.util.ConcurrentModificationException] {
      LakeTable.commitReclusterAt(spark, dir, "c_custkey",
        col("c_acctbal"), targetRowsPerFile = 500L, v = 2L)
    }
    val c4 = LakeTable.retrying(LakeTable.commitRecluster(spark, dir, "c_custkey",
      col("c_acctbal"), targetRowsPerFile = 500L))
    assert(c4.version === 4L)
    assert(rows(LakeTable.readLatest(spark, dir)) ===
      afterMerge.filterNot(_._1 == 50L))
  }

  test("OCC: a compaction THREAD racing a merge THREAD — both land in either order, no lost rows") {
    val dir = Files.createTempDirectory("graft-lake-occ-race").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 12)
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def runner(body: => Unit) = new Thread(() =>
      try { gate.await(); body } catch { case t: Throwable => errs.add(t) })
    val merger = runner {
      LakeTable.retrying(LakeTable.commitMerge(batch(10, 30), dir, "c_custkey",
        targetRowsPerFile = 40))
    }
    val compactor = runner {
      LakeTable.retrying(LakeTable.commitCompact(spark, dir, "c_custkey",
        smallFileRows = 1000L, targetRowsPerFile = 500L))
    }
    merger.start(); compactor.start()
    merger.join(120000); compactor.join(120000)
    assert(errs.isEmpty, s"a racing writer failed: ${errs.peek()}")
    // both landed — sequential semantics in SOME order: the merge's
    // effect is present, and the compaction (whichever side it ran on)
    // changed nothing a reader can see
    assert(LakeTable.versions(dir) === Seq(0L, 1L, 2L))
    assert(rows(LakeTable.readLatest(spark, dir)) ===
      rows(ChangeData.mergeApply(base, batch(10, 30), "c_custkey")))
  }

  test("vacuum drops bloom-store rows for deleted files; surviving lookups stay exact") {
    val dir = Files.createTempDirectory("graft-lake-bloomgc").toString
    LakeTable.init(base, dir, "c_custkey", nFiles = 8)
    assert(LakeTable.ensureBlooms(spark, dir, "c_acctbal") === 8L)
    val c = LakeTable.commitMerge(batch(10, 30), dir, "c_custkey", targetRowsPerFile = 40)
    assert(LakeTable.ensureBlooms(spark, dir, "c_acctbal") === c.filesRewritten)
    val storeDir = s"$dir/_bloomstore/c_acctbal"
    val before = spark.read.parquet(storeDir).count()
    assert(before === 8L + c.filesRewritten) // covers v0 AND v1 files
    // retire v0: its exclusively-referenced files delete, and the
    // bloom rows keyed by them must go with them
    val (_, deadFiles) = LakeTable.vacuum(spark, dir, keepVersions = 1, orphanAgeMs = 0L)
    assert(deadFiles > 0L)
    val after = spark.read.parquet(storeDir).count()
    assert(after === before - deadFiles, "bloom store kept rows for vacuumed files")
    assert(after === LakeTable.manifest(spark, dir, 1L).count(),
      "store should cover exactly the surviving snapshot's files")
    // and the shrunken store still answers point lookups exactly
    val probe = base.where(col("c_custkey") === 42).head().getDouble(2)
    val (got, _, _) = LakeTable.lookupVersion(spark, dir, 1L, "c_acctbal", probe)
    assert(rows(got) === rows(LakeTable.readLatest(spark, dir)
      .where(col("c_acctbal") === probe)))
  }
}
