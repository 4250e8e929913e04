package graft.streaming

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.sources.FsUtil.deleteRecursively

/** The batch-keyed store every landing, ingest store and grown vector
  * index of graft.streaming is: `<dir>/seed/` (history, optional) plus
  * one `<dir>/batch_id=N/` per micro-batch. A batch [[write]]s only its
  * own dir, staged under the dot-prefixed `.batch_id=N` (Spark's file
  * index skips it) and published whole by one rename, so a cut write
  * leaves the store as it was and a replay replaces its earlier copy.
  * A batch reads the store [[asOf]] its own id, so a replay sees the
  * store its original run saw. A landing (no seed) is also a plain
  * partitioned table for `spark.read.parquet(dir)`. Drains run without a
  * checkpoint (each numbers its batches from 0), so a drain opens its
  * landings with [[BatchStore.landing]], its stores with history with
  * [[BatchStore.seeded]]. */
final case class BatchStore(dir: String) {

  private def batchPath(batchId: Long): String = s"$dir/batch_id=$batchId"
  private def seedPath: String = s"$dir/seed"

  private def batchIds: Seq[Long] = Option(new File(dir).listFiles()).toSeq.flatten
    .flatMap(f => BatchStore.Published.unapplySeq(f.getName).map(_.head.toLong)).sorted

  /** Finish a [[compact]] cut between its two renames; run before every read. */
  private def heal(): Unit = {
    val (seed, next) = (new File(seedPath), new File(s"$dir/.seed_next"))
    if (!seed.exists() && next.exists()) require(next.renameTo(seed), s"store heal failed in $dir")
    deleteRecursively(new File(s"$dir/.seed_old"))
  }

  /** `relation`'s dirs in the seed and in every batch before `before`. */
  private def parts(before: Long, relation: String): Seq[String] = {
    heal()
    val sub = if (relation.isEmpty) "" else s"/$relation"
    (Seq(seedPath).filter(p => new File(p + sub).exists()) ++
      batchIds.filter(_ < before).map(batchPath)).map(_ + sub)
  }

  def seed(df: DataFrame): Unit = df.write.mode("overwrite").parquet(seedPath)

  /** Commit batch `batchId`: `land` writes under the staging dir it is
    * given (one subdir per relation if several); one rename publishes it. */
  def write(batchId: Long)(land: String => Unit): Unit = {
    val (staging, dest) = (new File(s"$dir/.batch_id=$batchId"), new File(batchPath(batchId)))
    deleteRecursively(staging)
    try land(staging.getPath) catch { case e: Throwable => deleteRecursively(staging); throw e }
    deleteRecursively(dest) // a replay's earlier copy
    require(staging.renameTo(dest), s"could not publish $dest")
  }

  def write(batchId: Long, df: DataFrame): Unit = write(batchId)(df.write.parquet(_))

  /** The seed plus every STRICTLY earlier batch. */
  def asOf(spark: SparkSession, batchId: Long): DataFrame =
    spark.read.parquet(parts(batchId, ""): _*)

  /** The seed plus every batch; with neither, an empty relation of
    * `ifEmpty`'s schema (or Spark's cannot-infer-schema error). */
  def all(spark: SparkSession, relation: String = "",
          ifEmpty: Option[StructType] = None): DataFrame = {
    val ps = parts(Long.MaxValue, relation)
    if (ps.nonEmpty || ifEmpty.isEmpty) spark.read.parquet(ps: _*)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), ifEmpty.get)
  }

  /** Fold batches `0..through` into the seed (distinct) and retire their
    * dirs, returning how many, so reads stay a bounded dir list. Only for
    * batches that can no longer replay (a replay must see the store AS OF
    * its original run). The swap is two renames, never an rm of live
    * data; [[heal]] finishes it if cut between them. */
  def compact(spark: SparkSession, through: Long): Long = {
    heal()
    val ids = batchIds.filter(_ <= through)
    if (ids.isEmpty) return 0L
    val staging = s"$dir/.seed_next"
    spark.read.parquet(seedPath +: ids.map(batchPath): _*).distinct()
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val (seed, old) = (new File(seedPath), new File(s"$dir/.seed_old"))
    deleteRecursively(old)
    require(seed.renameTo(old), s"store compaction: could not set aside $seed")
    require(new File(staging).renameTo(seed), s"store compaction swap failed in $dir")
    ids.foreach(i => deleteRecursively(new File(batchPath(i))))
    deleteRecursively(old)
    ids.size.toLong
  }
}

object BatchStore {
  private val Published = """batch_id=(\d+)""".r

  /** Open a landing the drain owns: batch dirs an earlier (longer) drain
    * left are removed; the dir itself stays. */
  def landing(dir: String): BatchStore = {
    new File(dir).mkdirs()
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.matches("""\.?batch_id=\d+""")).foreach(deleteRecursively)
    BatchStore(dir)
  }

  /** Open a store whose seed is history: an earlier drain's batch dirs
    * fail the open. A fresh store (a copy of the seed) is the remedy;
    * [[compact]]ing them only fits a drain whose input follows theirs,
    * never a retry of the same input (it would dedup against itself). */
  def seeded(dir: String): BatchStore = {
    val stale = BatchStore(dir).batchIds
    require(stale.isEmpty, s"$dir holds batch dirs of an earlier drain " +
      s"(batch_id=${stale.mkString(", ")}): use a fresh store (a copy of its seed)")
    BatchStore(dir)
  }
}
