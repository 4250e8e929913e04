package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.ChangeData
import graft.plans.Lineage.TruncateOps

/** A minimal transactional copy-on-write table — the composition the
  * shipped halves were building toward: CDC MERGE (ChangeData
  * .mergeApply), per-file min/max statistics (StatsManifest.statsOf),
  * size-governed compaction (the Sinks.writeCompacted dials) and
  * immutable versioned snapshots with time-travel reads (the
  * EventStreams latest-image version-dir device), run as ONE commit.
  * This is the Delta/Iceberg posture from nothing but parquet and a
  * manifest:
  *
  * {{{
  * tableDir/
  *   files/c0a…/part-*.parquet immutable data files born in commit 0
  *   files/c1a…/part-*.parquet files REWRITTEN by commit 1
  *   v000000000/_manifest/     snapshot 0: its file list + stats
  *   v000000001/_manifest/     snapshot 1: carried + rewritten files
  * }}}
  *
  * A snapshot IS its manifest: one row per data file with the file's
  * key interval and row count. Committing a change batch rewrites only
  * the files whose key interval contains a change key — every other
  * file is carried into the new snapshot BY REFERENCE (its manifest
  * row copied verbatim, its bytes untouched, its stats NOT recomputed).
  * Old snapshots stay readable until a vacuum deletes unreferenced
  * commit dirs.
  *
  * Why this is the 100 TB shape: the three per-commit costs all track
  * the CHANGE, not the table — the merge reads touched files only
  * (manifest range pruning against the batch's keys), the stats pass
  * reads the rewritten files only ([[StatsManifest.appendClustered]]'s
  * incremental contract), and the snapshot write is one file-count-
  * sized manifest. A full-table pass per commit — what the overwrite-
  * only writer did — appears nowhere.
  */
object LakeTable {

  /** What a commit did, for callers and specs: how many data files the
    * new snapshot rewrote (== what the merge read and the stats pass
    * scanned) vs carried by reference. */
  final case class Commit(version: Long, filesRewritten: Long, filesCarried: Long)

  /** The ONE driver-side collect shape this file allows (VERDICT r13
    * #7): every relation materialized here is MANIFEST-CLASS — one row
    * per data file (a snapshot manifest, a bloom store, a pruned or
    * diffed file list) — so the driver cost is bounded by the
    * snapshot's FILE COUNT, never by table row count, and shrinks
    * under compaction rather than growing with data. The contract is
    * structural: a new collect of file paths must flow through
    * [[ManifestCollectOps.collectManifestFiles]], and a table format
    * whose manifests stop being file-count-sized (~10^7+ files) must
    * page them through the manifest RELATION instead of inheriting a
    * silent driver bottleneck. LakeTableSpec pins the bound by
    * counting manifest rows through a commit chain. */
  private implicit class ManifestCollectOps(private val m: DataFrame) {
    def collectManifestFiles: Seq[String] =
      m.collect().map(_.getString(0)).toIndexedSeq
  }

  /** The dir of version `v`: the zero-padded `v%09d` name [[versions]]
    * parses (lexicographic = numeric). */
  private[graft] def vDir(tableDir: String, v: Long) = f"$tableDir/v$v%09d"
  private def manifestDir(tableDir: String, v: Long) = s"${vDir(tableDir, v)}/_manifest"
  private def deletesDir(tableDir: String, v: Long) = s"${vDir(tableDir, v)}/_deletes"

  /** The snapshot's delete vector, if any: a one-column relation of
    * keys logically deleted from rows still PHYSICALLY present in the
    * snapshot's data files (the merge-on-read half of the table; see
    * [[commitDelete]]). None == empty. */
  private def deleteSet(spark: SparkSession, tableDir: String, v: Long): Option[DataFrame] =
    if (new java.io.File(deletesDir(tableDir, v)).exists())
      Some(FsUtil.readParquetDir(spark, deletesDir(tableDir, v)))
    else None

  /** Subtract a delete vector from visible rows — THE merge-on-read
    * read-time idiom, shared by every read surface (readVersion,
    * scanPrunedVersion, lookupVersion, changesBetween) and by the
    * commits' reconciliation ([[pruneTouched]]), so vector semantics
    * can only change in one place. Broadcast anti join: the vector is
    * delta-sized by construction. */
  private def minusVector(df: DataFrame, vec: Option[DataFrame]): DataFrame =
    vec.fold(df)(d => df.join(broadcast(d), d.columns.toSeq, "left_anti"))

  /** Snapshot versions present, ascending. */
  def versions(tableDir: String): Seq[Long] =
    Option(new java.io.File(tableDir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("v"))
      .flatMap(f => scala.util.Try(f.getName.drop(1).toLong).toOption)
      .sorted

  /** Create the table: cluster the seed data (range partition +
    * in-file sort — on the key by default, or a caller expression such
    * as a [[StatsManifest.zValueN]] interleave for multi-dimensional
    * locality), stat the files, snapshot as v0. The manifest carries
    * min/max for the key plus every column in `statsCols`; later
    * commits INHERIT that stats schema from the manifest itself, so
    * the per-file skipping surface is decided once, at init. */
  def init(df: DataFrame, tableDir: String, keyCol: String, nFiles: Int,
           statsCols: Seq[String] = Nil, clusterExpr: Option[Column] = None): Commit = {
    require(versions(tableDir).isEmpty, s"LakeTable.init needs a fresh tableDir: $tableDir")
    val files = landCommit(tableDir, 0L, df, keyCol, keyCol +: statsCols.filterNot(_ == keyCol),
      maxRowsPerFile = 0L, nFiles = Some(nFiles), cluster = clusterExpr)
    Commit(0L, files.size.toLong, 0L)
  }

  def manifest(spark: SparkSession, tableDir: String, v: Long): DataFrame =
    FsUtil.readParquetDir(spark, manifestDir(tableDir, v))

  /** The columns a manifest carries stats for (its min_X/max_X pairs). */
  private def statsColsOf(m: DataFrame): Seq[String] =
    m.columns.filter(_.startsWith("min_")).map(_.stripPrefix("min_")).toSeq

  /** Time-travel read: the file list of snapshot `v`, whatever commits
    * happened since. File-count-sized driver collect — the same scale
    * class as Spark's own file index (and StatsManifest.scanPruned).
    * `mergeSchema` because commits may EVOLVE the schema additively
    * (ChangeData.mergeApply's union-payload contract): carried files
    * predating a new column read it as NULL, which is the evolution
    * semantics a reader expects. */
  def readVersion(spark: SparkSession, tableDir: String, v: Long): DataFrame = {
    val files = manifest(spark, tableDir, v).select(col("file"))
      .collectManifestFiles
    val base = spark.read.option("mergeSchema", "true").parquet(files.toIndexedSeq: _*)
    // merge-on-read: subtract the snapshot's delete vector — the
    // read-time cost deletes traded the rewrite for (the vector's one
    // column IS the key column name, so no caller-supplied schema)
    minusVector(base, deleteSet(spark, tableDir, v))
  }

  def readLatest(spark: SparkSession, tableDir: String): DataFrame =
    readVersion(spark, tableDir, versions(tableDir).last)

  /** The pruning and reconciliation core every merging commit shares
    * (a keyed batch rewriting the files its keys touch, against
    * snapshot `v`):
    *  - touched: a data file is TOUCHED iff its [min_key, max_key]
    *    interval contains some batch key — an interval join BROADCASTING
    *    the file-count-sized manifest and streaming the keys (at 100 TB
    *    the batch can be millions of keys while the manifest is tens of
    *    thousands of rows); untouched files provably hold no batch key,
    *    so skipping them is exact, not heuristic;
    *  - base: the touched files' rows read THROUGH the snapshot's
    *    delete vector (a vector-deleted row must not resurrect through
    *    the merge); schema-only when nothing matches;
    *  - carried: the manifest rows of the untouched files;
    *  - deletes: the vector the new snapshot carries. A vector key
    *    leaves it for EITHER exit: it is a batch key (the rewrite lands
    *    a fresh row that must not stay masked), or its row sat in a
    *    touched file (the rewrite reads it through the vector, so the
    *    row is physically gone — keeping the entry would make history()
    *    double-count it and tax every later read for nothing). NO
    *    broadcast hint on the batch-keys side: the batch can be millions
    *    of keys while the vector is delta-sized. */
  private final case class Pruned(touched: Set[String], nBaseFiles: Long, base: DataFrame,
                                  carried: DataFrame, deletes: Option[DataFrame],
                                  statsCols: Seq[String])
  private def pruneTouched(spark: SparkSession, tableDir: String, v: Long, batch: DataFrame,
                           keyCol: String): Pruned = {
    val m = manifest(spark, tableDir, v)
    val keys = batch.select(col(keyCol).as("__k")).distinct()
    val touched = keys.join(broadcast(m.select(col("file"),
          col(s"min_$keyCol"), col(s"max_$keyCol"))),
        col(s"min_$keyCol") <= col("__k") && col(s"max_$keyCol") >= col("__k"))
      .select(col("file")).distinct().collectManifestFiles.toSet
    val allFiles = m.select(col("file")).collectManifestFiles
    val base =
      if (touched.nonEmpty) spark.read.option("mergeSchema", "true").parquet(touched.toIndexedSeq: _*)
      else spark.read.parquet(allFiles.head).where(lit(false)) // schema-only
    val carried = if (touched.isEmpty) m else m.where(!col("file").isin(touched.toSeq: _*))
    val del = deleteSet(spark, tableDir, v)
    val nextDel = del
      .map(_.join(batch.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
        .join(base.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
        .truncateLineage)
      .filter(_.count() > 0L)
    Pruned(touched, allFiles.length.toLong, minusVector(base, del), carried, nextDel,
      statsColsOf(m))
  }

  /** THE publication of a version — the OPTIMISTIC CONCURRENCY
    * CONTROL seam: the manifest (and delete vector) is staged under a
    * hidden name, then a single directory RENAME makes it version `v`
    * ([[StatsManifest.publish]]). POSIX rename fails if the target
    * exists, so when two writers race to the same version exactly one
    * wins; the loser's staging is removed and it gets
    * [[java.util.ConcurrentModificationException]] — re-read the table,
    * re-merge, retry ([[retrying]]). Readers never see a partial
    * snapshot: a version dir either does not exist or holds its
    * complete manifest, and the loser's attempt-scoped data files are
    * unreferenced orphans until [[vacuum]] sweeps them. A
    * version-PINNED commit passes `replace`: its replay swaps its own
    * earlier copy of `v` for the new one by the same rename. */
  private def publish(tableDir: String, v: Long, manifest0: DataFrame,
                      deletes: Option[DataFrame], replace: Boolean = false): Unit = {
    val dest = new java.io.File(vDir(tableDir, v))
    if (!StatsManifest.publish(dest.getPath,
        ("_manifest" -> manifest0) +: deletes.map("_deletes" -> _).toSeq, replace))
      throw new java.util.ConcurrentModificationException(
        s"LakeTable commit conflict: version $v already published in $tableDir — " +
          "re-read the latest snapshot and retry the commit")
    // stamp PUBLICATION time (not staging-write time) for versionAsOf.
    // The stamp lands just AFTER the rename, so there is a brief
    // rename-to-stamp window in which the dir still carries its
    // (earlier) staging mtime — a probe racing inside that window, or
    // one issued after a failed stamp (surfaced below, mtime then
    // stays at staging time), can resolve to this snapshot early.
    // Once the stamp lands, at-or-before semantics are exact.
    if (!dest.setLastModified(System.currentTimeMillis()))
      System.err.println(s"[lake] warning: could not stamp publication time on $dest; " +
        "versionAsOf will use its staging-write time")
  }

  /** THE commit path every version with new data takes: land `rows`
    * clustered on the key (or `cluster`) through
    * [[StatsManifest.writeFiles]] — `nFiles` files, or
    * ⌈rows/maxRowsPerFile⌉ files of at most `maxRowsPerFile` rows (the
    * Sinks.writeCompacted small-file governance) — re-stat ONLY those
    * files, and [[publish]] the carried manifest rows (verbatim) plus
    * their stats as version `next`. Returns the new files.
    *
    * The data dir is attempt-scoped (`files/c<next>a<nanos>`): two
    * racing writers never share one (the loser's overwrite would
    * clobber the winner's data files), and a replayed version never
    * overwrites files a later version carries; the manifest records
    * absolute paths, so the dir name is free. The no-surviving-rows
    * edge: with files carried, nothing is written; with nothing carried
    * either, ONE empty schema-bearing file and a null-stats manifest
    * row keep the emptied table readable and writable (statsOf emits no
    * row for a 0-row file, and an empty manifest would strand
    * readVersion and the next commit). */
  private def landCommit(tableDir: String, next: Long, rows: DataFrame, keyCol: String,
                         statsCols: Seq[String], maxRowsPerFile: Long,
                         nFiles: Option[Int] = None, carried: Option[DataFrame] = None,
                         deletes: Option[DataFrame] = None, cluster: Option[Column] = None,
                         replace: Boolean = false): Seq[String] = {
    val spark = rows.sparkSession
    val n = rows.count()
    val carriedRows = carried.filter(_.count() > 0L)
    val newFiles =
      if (n == 0L && carriedRows.nonEmpty) Seq.empty[String]
      else StatsManifest.writeFiles(rows, s"$tableDir/files/c${next}a${System.nanoTime()}",
        cluster.getOrElse(col(keyCol)),
        nFiles.getOrElse(math.max(1L, math.ceil(n.toDouble / maxRowsPerFile).toLong).toInt),
        maxRowsPerFile)
    val newStats = newFiles.headOption.map { first =>
      val stats = StatsManifest.statsOf(spark, newFiles, statsCols)
      if (n > 0L) stats
      else spark.createDataFrame(java.util.Arrays.asList(org.apache.spark.sql.Row.fromSeq(
        first +: Seq.fill(statsCols.length * 2)(null) :+ 0L)), stats.schema)
    }
    publish(tableDir, next, (carriedRows ++ newStats).reduce(_ unionByName _), deletes, replace)
    newFiles
  }

  def commitMerge(changes: DataFrame, tableDir: String, keyCol: String,
                  targetRowsPerFile: Long, opCol: String = "op"): Commit =
    commitMergeAt(changes, tableDir, keyCol, targetRowsPerFile,
      versions(tableDir).last, opCol)

  /** [[commitMerge]] pinned to an explicit base version — the seam the
    * OCC spec uses to reproduce a writer racing on a STALE snapshot
    * (read v, merge against v, publish v+1 after someone else already
    * did). Fails with ConcurrentModificationException at publish time;
    * nothing the loser wrote is visible to any reader.
    *
    * Apply a CDC batch (key, op ∈ upsert|delete, payload — the
    * ChangeData.mergeApply contract, NULL payload keeps the base
    * value) as one transactional commit: prune and reconcile
    * ([[pruneTouched]]), full-outer coalesce of the touched files' rows
    * with the batch (inserts materialize change-side-only; deletes
    * drop), then [[landCommit]]: survivors + inserts re-clustered,
    * re-stat of the written files only, snapshot v+1. Readers of v keep
    * an immutable view throughout. */
  private[graft] def commitMergeAt(changes: DataFrame, tableDir: String, keyCol: String,
                                   targetRowsPerFile: Long, baseVersion: Long,
                                   opCol: String = "op",
                                   validate: DataFrame => Unit = _ => ()): Commit = {
    val p = pruneTouched(changes.sparkSession, tableDir, baseVersion, changes, keyCol)
    // the merge is consumed twice (count + clustered write):
    // localCheckpoint materializes the join once (the
    // Dedup.jaccardPairs device) instead of re-reading the touched
    // files and re-joining per action
    val merged = ChangeData.mergeApply(p.base.drop(opCol), changes, keyCol, opCol).truncateLineage
    // constraint seam: runs BEFORE anything lands — a validation throw
    // aborts with no snapshot published and no data dir referenced
    validate(merged)
    val next = baseVersion + 1
    val newFiles = landCommit(tableDir, next, merged, keyCol, p.statsCols, targetRowsPerFile,
      carried = Some(p.carried), deletes = p.deletes)
    Commit(next, newFiles.size.toLong, p.nBaseFiles - p.touched.size)
  }

  /** CHECK-constrained merge: [[commitMerge]] that REJECTS the commit
    * when any merged row fails `check` — Delta's CHECK-constraint
    * semantics (a violation is FALSE or NULL, so `x > 0` rejects null
    * x). Validation runs over the MERGED touched+batch rows only:
    * carried files are byte-identical to an already-accepted snapshot,
    * so only rows this commit writes can newly violate — enforcement
    * is O(Δ), not a table scan per commit. A violation throws before
    * anything is published; readers never see a partial state. */
  def commitMergeChecked(changes: DataFrame, tableDir: String, keyCol: String,
                         targetRowsPerFile: Long, check: Column,
                         opCol: String = "op"): Commit =
    commitMergeAt(changes, tableDir, keyCol, targetRowsPerFile,
      versions(tableDir).last, opCol,
      validate = merged => {
        val bad = merged.where(!coalesce(check, lit(false))).count()
        if (bad > 0) throw new IllegalStateException(
          s"CHECK constraint violated by $bad merged row(s); commit aborted — " +
            "no snapshot was published")
      })

  /** O(|Δ|) DELETE commit — the merge-on-read half of the table: no
    * data file is read or rewritten. The new snapshot carries every
    * manifest row VERBATIM plus a delete VECTOR (distinct key set,
    * unioned with any carried vector) that [[readVersion]] /
    * [[scanPrunedVersion]] subtract with a broadcast anti join. This is
    * what a delete costs at 100 TB when rewriting is unaffordable:
    * delta-sized write now, vector-sized read tax until a later
    * [[commitMerge]] touching those keys (or a compaction rewrite)
    * reconciles physically. Published atomically like any commit —
    * racing writers resolve through the same OCC rename. */
  def commitDelete(keys: DataFrame, tableDir: String, keyCol: String): Commit =
    commitDeleteAt(keys, tableDir, keyCol, versions(tableDir).last)

  /** [[commitDelete]] pinned to an explicit base version — the OCC race
    * seam, exactly [[commitMergeAt]]'s: read v, build the vector
    * against v, publish v+1 after someone else already did → the
    * rename fails and nothing the loser staged is visible. */
  private[graft] def commitDeleteAt(keys: DataFrame, tableDir: String, keyCol: String,
                                    v: Long): Commit = {
    val spark = keys.sparkSession
    val m = manifest(spark, tableDir, v)
    val newDel = keys.select(col(keyCol)).distinct()
    val mergedDel = deleteSet(spark, tableDir, v)
      .fold(newDel)(_.unionByName(newDel).distinct())
    publish(tableDir, v + 1, m, Some(mergedDel))
    Commit(v + 1, 0L, m.count())
  }

  /** The OCC retry loop every real lake writer runs around any commit
    * here: attempt, and on a conflict re-read the NEW latest snapshot
    * and re-apply — safe for every commit kind because each is defined
    * against whatever base it lands on (MERGE re-merges, DELETE
    * re-unions the vector — idempotent, the vector is a distinct set —
    * COMPACT re-selects the small files, so compacting never
    * resurrects rows a concurrent merge rewrote, RECLUSTER re-reads the
    * winning snapshot). Bounded attempts; rethrows when contention
    * outlasts them. Pass the plain (latest-version) commit: an `…At`
    * commit pinned to a stale version would lose every attempt. */
  def retrying(attempt: => Commit, maxAttempts: Int = 5): Commit =
    try attempt
    catch {
      case _: java.util.ConcurrentModificationException if maxAttempts > 1 =>
        retrying(attempt, maxAttempts - 1)
    }

  /** Version-PINNED last-writer-wins commit — the LakeTable backend for
    * a streaming CDC materialization (EventStreams.runLatestImageLake):
    * fold a batch of key images into the table, newest row per key
    * winning by the `orderedPayload` prefix ([[ChangeData.latestImage]],
    * the runLatestImageMerge rule — NOT the change-wins coalesce of
    * [[commitMerge]], so an out-of-order image arriving in a later
    * batch loses to a newer base row). Reconciles the delete vector
    * exactly like [[commitMerge]] ([[pruneTouched]]): vector-masked
    * base rows do not compete in the argmax, and an image for a masked
    * key claims it back from the vector.
    *
    * The version is the CALLER's (a micro-batch id): the commit merges
    * against the newest version STRICTLY BELOW it and REPLACES its own
    * version ([[publish]] with `replace`: the micro-batch engine is the
    * single writer here, so the OCC conflict would be wrong for it), so
    * a re-delivered batch reproduces exactly its original commit
    * instead of stacking a new version — the replay contract, with the
    * pruned-rewrite economics: untouched files carry by reference like
    * every other commit. A first commit (no earlier version) seeds the
    * table. */
  def commitLatestImageAt(images: DataFrame, tableDir: String, keyCol: String,
                          orderedPayload: Seq[String], targetRowsPerFile: Long,
                          version: Long): Commit = {
    val p = versions(tableDir).filter(_ < version).lastOption
      .map(pruneTouched(images.sparkSession, tableDir, _, images, keyCol))
    val latest = ChangeData.latestImage(images, keyCol, orderedPayload)
    // consumed twice (count + clustered write): materialize once
    val merged = p.fold(latest)(q =>
      ChangeData.latestImage(q.base.unionByName(latest), keyCol, orderedPayload)).truncateLineage
    val newFiles = landCommit(tableDir, version, merged, keyCol,
      p.fold(Seq(keyCol))(_.statsCols), targetRowsPerFile, carried = p.map(_.carried),
      deletes = p.flatMap(_.deletes), replace = true)
    Commit(version, newFiles.size.toLong, p.fold(0L)(q => q.nBaseFiles - q.touched.size))
  }

  /** Compaction commit: rewrite the snapshot's SMALL files
    * (n_rows < smallFileRows) into ⌈rows/target⌉ key-clustered files;
    * everything else carries by reference. Content-identical by
    * construction — the same rows land in fewer, larger, re-clustered
    * files — so a reader cannot tell a compaction happened except by
    * file count. This is the maintenance half of the small-files story:
    * the size-governed writer bounds what one commit produces, and
    * compaction retires the long tail that many small commits still
    * accumulate at 100 TB. */
  def commitCompact(spark: SparkSession, tableDir: String, keyCol: String,
                    smallFileRows: Long, targetRowsPerFile: Long): Commit =
    commitCompactAt(spark, tableDir, keyCol, smallFileRows, targetRowsPerFile,
      versions(tableDir).last)

  /** [[commitCompact]] pinned to an explicit base version — the OCC
    * race seam (see [[commitMergeAt]]). */
  private[graft] def commitCompactAt(spark: SparkSession, tableDir: String, keyCol: String,
                                     smallFileRows: Long, targetRowsPerFile: Long,
                                     v: Long): Commit = {
    val m = manifest(spark, tableDir, v)
    val small = m.where(col("n_rows") < smallFileRows)
      .select(col("file")).collectManifestFiles
    val total = m.count()
    // a delete vector carries VERBATIM through compaction: rewritten
    // small files are read raw (they may still hold vector-masked
    // rows), so the vector must keep masking them — correctness never
    // depends on whether a given row's file was compacted
    val carriedDel = deleteSet(spark, tableDir, v)
    if (small.isEmpty) {
      // nothing to do — still snapshot (a commit is a commit), all
      // carried; published atomically like any other maintenance commit
      publish(tableDir, v + 1, m, carriedDel)
      return Commit(v + 1, 0L, total)
    }
    // read the small files once (count + clustered write)
    val smallRows = spark.read.option("mergeSchema", "true")
      .parquet(small.toIndexedSeq: _*).truncateLineage
    val newFiles = landCommit(tableDir, v + 1, smallRows, keyCol, statsColsOf(m),
      targetRowsPerFile, carried = Some(m.where(!col("file").isin(small.toIndexedSeq: _*))),
      deletes = carriedDel)
    Commit(v + 1, newFiles.size.toLong, total - small.length)
  }

  /** OPTIMIZE … ZORDER BY: rewrite the snapshot clustered and sorted
    * on a NEW expression — the layout-evolution commit a table runs
    * when its dominant predicate changes after init chose the
    * clustering (init decides once; this is the one operation that
    * re-decides). Reads the whole snapshot THROUGH the delete vector
    * (a full rewrite is the natural point to reconcile it physically —
    * the new snapshot carries no vector) and re-stats everything.
    * Deliberately the opposite cost profile of [[commitCompact]]:
    * compaction is incremental and reader-invisible; reclustering is a
    * full rewrite you schedule when pruning stats say the layout no
    * longer fits the workload (the StatsManifestSpec skip-rate numbers
    * are exactly that signal). Readers of old snapshots are untouched. */
  def commitRecluster(spark: SparkSession, tableDir: String, keyCol: String,
                      clusterExpr: Column, targetRowsPerFile: Long): Commit =
    commitReclusterAt(spark, tableDir, keyCol, clusterExpr, targetRowsPerFile,
      versions(tableDir).last)

  /** [[commitRecluster]] pinned to an explicit base version — the OCC
    * race seam (see [[commitMergeAt]]). */
  private[graft] def commitReclusterAt(spark: SparkSession, tableDir: String, keyCol: String,
                                       clusterExpr: Column, targetRowsPerFile: Long,
                                       v: Long): Commit = {
    // consumed twice (count + clustered write): checkpoint once
    val rows = readVersion(spark, tableDir, v).truncateLineage
    val newFiles = landCommit(tableDir, v + 1, rows, keyCol,
      statsColsOf(manifest(spark, tableDir, v)), targetRowsPerFile, cluster = Some(clusterExpr))
    Commit(v + 1, newFiles.size.toLong, 0L)
  }

  /** Manifest-pruned read of a snapshot: load only the files whose
    * stat intervals intersect EVERY predicate `lo <= col <= hi` (the
    * StatsManifest.scanPruned device over a versioned manifest; any
    * column stat'd at [[init]] prunes, multi-column boxes prune well
    * when init clustered on a [[StatsManifest.zValueN]] interleave),
    * then re-apply the row filters. Returns the dataframe plus
    * (files scanned, files total). */
  def scanPrunedVersion(spark: SparkSession, tableDir: String, v: Long,
                        preds: Seq[(String, Column, Column)]): (DataFrame, Long, Long) = {
    val m = manifest(spark, tableDir, v)
    val total = m.count()
    val hits = preds.foldLeft(m) { case (acc, (c, lo, hi)) =>
      acc.where(col(s"min_$c") <= hi && col(s"max_$c") >= lo)
    }.select(col("file")).collectManifestFiles
    val pruned =
      if (hits.isEmpty) readVersion(spark, tableDir, v).where(lit(false))
      else spark.read.option("mergeSchema", "true").parquet(hits.toIndexedSeq: _*)
    val filtered = preds.foldLeft(pruned) { case (acc, (c, lo, hi)) =>
      acc.where(col(c) >= lo && col(c) <= hi)
    }
    // the pruned read honors merge-on-read deletes like readVersion
    (minusVector(filtered, deleteSet(spark, tableDir, v)), hits.length.toLong, total)
  }

  /** SHALLOW CLONE: a new table whose v0 manifest (and delete vector)
    * REFERENCES the source snapshot's data files — zero bytes of data
    * copied, published atomically like any commit. From then on the
    * two tables diverge freely: the clone's commits land under its own
    * `files/` root, and its vacuum can never delete source files (it
    * only sweeps its own root; manifests referencing foreign paths
    * keep reading them). The standard shallow-clone hazard is the
    * OTHER direction and is the caller's retention policy: a vacuum on
    * the SOURCE does not know about clones, so keep source snapshots
    * as long as clones reference them. Returns the cloned source
    * version. */
  def cloneShallow(spark: SparkSession, sourceDir: String, targetDir: String,
                   sourceVersion: Option[Long] = None): Long = {
    require(versions(targetDir).isEmpty,
      s"cloneShallow needs a fresh targetDir: $targetDir")
    val sv = sourceVersion.getOrElse(versions(sourceDir).last)
    publish(targetDir, 0L, manifest(spark, sourceDir, sv), deleteSet(spark, sourceDir, sv))
    sv
  }

  /** Time travel BY TIMESTAMP: the newest snapshot published at or
    * before `tsMillis`. Publication time is the version dir's mtime,
    * stamped by [[publish]] immediately AFTER the rename that made the
    * snapshot visible. A probe racing the brief rename-to-stamp window
    * may resolve one snapshot early (the dir briefly carries its
    * earlier staging mtime); once the stamp lands, at-or-before
    * semantics are exact — callers needing a hard guarantee pin
    * versions, not wall clocks. A version-pinned replay
    * ([[commitLatestImageAt]]) replaces its own version, so a replayed
    * version re-stamps and timestamp travel there reflects the replay,
    * matching its reproduce-the-snapshot contract. */
  def versionAsOf(tableDir: String, tsMillis: Long): Long = {
    val vs = versions(tableDir)
      .filter(v => new java.io.File(vDir(tableDir, v)).lastModified() <= tsMillis)
    require(vs.nonEmpty, s"no snapshot published at or before $tsMillis in $tableDir")
    vs.max
  }

  private def bloomDir(tableDir: String, colName: String) =
    s"$tableDir/_bloomstore/$colName"

  /** POINT-LOOKUP INDEX maintenance: a per-file Bloom store for
    * `colName` (the [[StatsManifest.bloomsOf]] filters — the skipping
    * device for ANTI-clustered columns whose min/max intervals span
    * the domain in every file). Because data files are IMMUTABLE, the
    * store needs no per-version carry logic: rows key by file path,
    * and covering a new snapshot means blooming only the files no
    * earlier call has seen — a commit's index maintenance cost is its
    * rewritten files, nothing else. Stale rows for vacuumed files are
    * inert (lookups probe only the snapshot's files). Returns how many
    * files were newly bloomed, which is also what the spec counts. */
  def ensureBlooms(spark: SparkSession, tableDir: String, colName: String): Long = {
    val files = manifest(spark, tableDir, versions(tableDir).last)
      .select(col("file")).collectManifestFiles.toSet
    val dir = bloomDir(tableDir, colName)
    val covered =
      if (new java.io.File(dir).exists())
        spark.read.parquet(dir).select(col("file")).collectManifestFiles.toSet
      else Set.empty[String]
    val missing = (files -- covered).toSeq.sorted
    if (missing.nonEmpty) {
      // bloom relations are file-count-sized — the manifest scale class
      val built = StatsManifest.bloomsOf(spark, missing, colName).collect()
      // a 0-row file produces no bloomsOf group (the emptied-table
      // edge): synthesize an empty filter for it — mightContain is
      // always false, exactly right for a file holding nothing — so
      // coverage converges, this call stays idempotent, and
      // lookupVersion's completeness check can hold
      val have = built.map(_.getString(0)).toSet
      val empties = missing.filterNot(have).map { f =>
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.spark.util.sketch.BloomFilter.create(1).writeTo(bos)
        org.apache.spark.sql.Row(f, bos.toByteArray)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("file", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(s"bloom_$colName",
          org.apache.spark.sql.types.BinaryType)))
      spark.createDataFrame(
          java.util.Arrays.asList((built.toSeq ++ empties): _*), schema)
        .write.mode("append").parquet(dir)
    }
    missing.size.toLong
  }

  /** Bloom-indexed point lookup against snapshot `v`: probe each
    * file's filter driver-side (file-count-sized, the manifest scale
    * class), read only possible files, re-apply the exact row filter,
    * subtract the snapshot's delete vector. Exact — Blooms have no
    * false negatives, and the store must cover every snapshot file
    * (run [[ensureBlooms]] after commits; a gap here would silently
    * drop rows, so it throws instead). Returns (rows, files read,
    * files total). */
  def lookupVersion(spark: SparkSession, tableDir: String, v: Long,
                    colName: String, value: Any): (DataFrame, Long, Long) = {
    require(new java.io.File(bloomDir(tableDir, colName)).exists(),
      s"no bloom store for $colName — run ensureBlooms first")
    val files = manifest(spark, tableDir, v)
      .select(col("file")).collectManifestFiles.toSet
    // coverage means DISTINCT files: a racing/re-run ensureBlooms can
    // append a duplicate row for a file (harmless — the file is
    // immutable, so the filters are interchangeable), which must
    // neither fail the completeness check as a phantom gap nor make
    // the pruned scan read its file twice
    val blooms = spark.read.parquet(bloomDir(tableDir, colName))
      .where(col("file").isin(files.toSeq: _*))
      .dropDuplicates("file")
    require(blooms.count() == files.size.toLong,
      s"bloom store for $colName does not cover snapshot $v — run ensureBlooms first")
    val (rows, hits, total) = StatsManifest.scanBloomPruned(spark, blooms, colName, value)
    (minusVector(rows, deleteSet(spark, tableDir, v)), hits, total)
  }

  /** DESCRIBE HISTORY: one row per snapshot — (version, n_files,
    * n_rows) read from the manifests alone (file-count-sized driver
    * work, no data file touched). The n_rows of a merge-on-read
    * snapshot subtracts its delete vector: history reports what a
    * reader would see, not what the files physically hold. Exact
    * when vector keys exist in the snapshot — commitMerge retires
    * entries whose rows a rewrite drops, so the only way to skew this
    * count is commitDelete of a key the table never held (reads are
    * unaffected either way; the anti join is presence-agnostic). */
  def history(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    versions(tableDir).map { v =>
      val m = manifest(spark, tableDir, v)
        .agg(count(lit(1)), sum(col("n_rows"))).head()
      val masked = deleteSet(spark, tableDir, v).map(_.count()).getOrElse(0L)
      (v, m.getLong(0), m.getLong(1) - masked)
    }.toDF("version", "n_files", "n_rows")
  }

  /** CHANGE DATA FEED: the row-level difference between two snapshots,
    * classified insert / delete / update_pre / update_post — what a
    * downstream consumer replays to stay in sync without re-reading
    * the table (the Delta change-data-feed posture, DERIVED from the
    * snapshots rather than stored by the writer). O(Δ) by
    * construction: a carried file's bytes are shared by both
    * snapshots, so its rows cannot differ — only files present in
    * exactly ONE manifest are read, plus the interval-pruned carried
    * files holding keys whose delete-vector membership changed
    * (delta-sized, like the vectors). A compaction between the
    * versions contributes nothing: its rewritten rows are value-equal
    * on both sides and the null-safe struct compare drops them, so
    * reader invisibility extends to the feed.
    *
    * Keys are unique per snapshot (commitMerge's keyed-upsert
    * invariant), so the full-outer join is 1:1 and a key yields at
    * most two rows. Updates emit BOTH images — the retract + assert
    * pair an incremental view maintainer consumes
    * (ChangeData.aggDelta's signed-delta contract). Schema evolution
    * is handled the readVersion way: a column absent on one side
    * compares as NULL there, so adding a column surfaces as updates
    * only for rows whose values actually changed. */
  def changesBetween(spark: SparkSession, tableDir: String, fromV: Long, toV: Long,
                     keyCol: String, opCol: String = "_op"): DataFrame = {
    val m1 = manifest(spark, tableDir, fromV)
    val m2 = manifest(spark, tableDir, toV)
    val f1 = m1.select(col("file")).collectManifestFiles.toSet
    val f2 = m2.select(col("file")).collectManifestFiles.toSet
    def readSome(files: Seq[String], schemaFrom: Set[String]) =
      if (files.nonEmpty) spark.read.option("mergeSchema", "true").parquet(files: _*)
      else spark.read.parquet(schemaFrom.head).where(lit(false)) // schema-only
    val removed = readSome((f1 -- f2).toSeq.sorted, f1)
    val added = readSome((f2 -- f1).toSeq.sorted, f2)
    val d1 = deleteSet(spark, tableDir, fromV)
    val d2 = deleteSet(spark, tableDir, toV)
    // keys whose VECTOR membership changed live in carried files (a
    // rewritten file's rows already appear on the removed/added side);
    // read only the carried files whose key interval can hold such a
    // key, and only those keys' rows
    val carriedDiffRows: Option[DataFrame] =
      if (d1.isEmpty && d2.isEmpty) None
      else {
        val proto = d1.orElse(d2).get.where(lit(false))
        val a = d1.getOrElse(proto)
        val b = d2.getOrElse(proto)
        val diffKeys = a.exceptAll(b).unionAll(b.exceptAll(a)).distinct()
          .truncateLineage // consumed by the prune join AND the semi join
        val carried = (f1 & f2).toSeq.sorted
        val touched =
          if (carried.isEmpty) Seq.empty[String]
          else diffKeys.select(col(keyCol).as("__k"))
            .join(broadcast(m2.where(col("file").isin(carried: _*))
                .select(col("file"), col(s"min_$keyCol"), col(s"max_$keyCol"))),
              col(s"min_$keyCol") <= col("__k") && col(s"max_$keyCol") >= col("__k"))
            .select(col("file")).distinct().collectManifestFiles
        if (touched.isEmpty) None
        else Some(spark.read.option("mergeSchema", "true").parquet(touched.toIndexedSeq: _*)
          .join(diffKeys, Seq(keyCol), "left_semi"))
      }
    // each side's VISIBLE rows among the delta files: subtract that
    // snapshot's vector (the shared minusVector idiom)
    val oldRows = carriedDiffRows.foldLeft(minusVector(removed, d1))(
      (acc, c) => acc.unionByName(minusVector(c, d1), allowMissingColumns = true))
    val newRows = carriedDiffRows.foldLeft(minusVector(added, d2))(
      (acc, c) => acc.unionByName(minusVector(c, d2), allowMissingColumns = true))
    // align both sides on the UNION of their columns (additive schema
    // evolution means the old side may lack columns the new side has)
    val payloadCols = (oldRows.columns ++ newRows.columns).distinct.filterNot(_ == keyCol).toSeq
    def side(df: DataFrame, out: String) = {
      val typed = payloadCols.map { c =>
        if (df.columns.contains(c)) col(c).as(c)
        else {
          val dt = (if (oldRows.columns.contains(c)) oldRows else newRows).schema(c).dataType
          lit(null).cast(dt).as(c)
        }
      }
      df.select(col(keyCol), struct(typed: _*).as(out))
    }
    val diff = side(oldRows, "__o").join(side(newRows, "__n"), Seq(keyCol), "full_outer")
      .where(!(col("__o") <=> col("__n"))) // both-present-and-equal rows vanish
    diff.select(col(keyCol), explode(
        when(col("__o").isNull,
          array(struct(col("__n").as("p"), lit("insert").as("op"))))
        .when(col("__n").isNull,
          array(struct(col("__o").as("p"), lit("delete").as("op"))))
        .otherwise(array(
          struct(col("__o").as("p"), lit("update_pre").as("op")),
          struct(col("__n").as("p"), lit("update_post").as("op"))))).as("__c"))
      .select(col(keyCol) +: payloadCols.map(c => col(s"__c.p.$c").as(c))
        :+ col("__c.op").as(opCol): _*)
  }

  /** Retire history: keep the newest `keepVersions` snapshots, delete
    * older version dirs, then delete every data file no RETAINED
    * manifest references. Files born in an old commit but still
    * referenced by a kept snapshot survive — reference counting over
    * the manifests, not commit-dir age, decides. Driver-side file ops
    * over file-count-sized lists. Returns (#versions dropped, #data
    * files deleted). */
  /** `orphanAgeMs` is the RETENTION GATE protecting concurrent
    * writers: an attempt dir, staging root, or unreferenced data file
    * younger than it may belong to a commit in flight between its data
    * write and its publish rename, so only artifacts older than the
    * gate are swept (the Delta-vacuum posture; production default is
    * hours-to-days). Tests that own the only writer may pass 0. */
  def vacuum(spark: SparkSession, tableDir: String, keepVersions: Int,
             orphanAgeMs: Long = 24L * 3600 * 1000): (Long, Long) = {
    require(keepVersions >= 1, "vacuum must keep at least the latest snapshot")
    val cutoff = System.currentTimeMillis() - orphanAgeMs
    val vs = versions(tableDir)
    val (drop, keep) = vs.splitAt(math.max(0, vs.size - keepVersions))
    // manifest paths are input_file_name() URIs; normalize to local paths
    def norm(p: String): String =
      if (p.startsWith("file:")) java.net.URI.create(p).getPath else p
    val referenced = keep.flatMap { v =>
      manifest(spark, tableDir, v).select(col("file")).collectManifestFiles.map(norm)
    }.toSet
    drop.foreach(v => FsUtil.deleteRecursively(new java.io.File(vDir(tableDir, v))))
    val dataFiles = Option(new java.io.File(s"$tableDir/files").listFiles()).toSeq.flatten
      .flatMap(c => Option(c.listFiles()).toSeq.flatten)
      .filter(_.getName.endsWith(".parquet"))
    val dead = dataFiles.filterNot(f => referenced.contains(f.getAbsolutePath))
      .filter(_.lastModified() <= cutoff)
    dead.foreach(_.delete())
    // GC parity for the ancillary point-lookup index: the per-file
    // Bloom store keys rows by data-file path, and a vacuumed file's
    // row is pure dead weight (inert for lookups, but the store would
    // otherwise grow monotonically with commit churn). Keep a row iff
    // its file still exists on disk — a live-but-unreferenced young
    // file (a commit in flight) keeps its row, matching the data-file
    // retention gate above. Store relations are file-count-sized (the
    // manifest scale class), so the rewrite is a driver-side
    // collect + overwrite like every other manifest operation.
    Option(new java.io.File(s"$tableDir/_bloomstore").listFiles()).toSeq.flatten
      .filter(_.isDirectory).foreach { colDir =>
        val store = spark.read.parquet(colDir.getPath)
        val all = store.collect()
        val live = all.filter(r => new java.io.File(norm(r.getString(0))).exists())
        if (live.length != all.length) {
          val schema = store.schema
          FsUtil.deleteRecursively(colDir)
          spark.createDataFrame(java.util.Arrays.asList(live.toSeq: _*), schema)
            .coalesce(1).write.parquet(colDir.getPath)
        }
      }
    // sweep the husks OCC leaves behind — emptied commit/attempt dirs
    // and staging roots of writers that crashed before their publish
    // rename — but ONLY past the retention gate, and never a dir whose
    // listing failed (null list ≠ empty dir)
    Option(new java.io.File(s"$tableDir/files").listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.lastModified() <= cutoff &&
        Option(d.listFiles()).exists(_.forall(f => !f.getName.endsWith(".parquet"))))
      .foreach(FsUtil.deleteRecursively)
    Option(new java.io.File(tableDir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(".inflight_v") && f.lastModified() <= cutoff)
      .foreach(FsUtil.deleteRecursively)
    (drop.size.toLong, dead.size.toLong)
  }
}
