package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Local-FS helpers shared by the table layouts. */
object FsUtil {
  /** The one recursive-delete helper (local-FS fixtures, store/version
    * dir retirement) — previously four identical closures across three
    * files. Does not follow symlinks (File.delete on a link removes the
    * link), which is the behavior every call site wants. */
  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** The `.parquet` files directly under `dir`, absolute paths, sorted;
    * empty when `dir` does not exist. */
  def parquetFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted

  /** Read the parquet relation Spark wrote to `dir` through its part
    * files, not through `dir` itself. The side directories of the
    * layouts (`_manifest`, `_deletes`, `_blooms`) are `_`-prefixed so
    * that no reader of the layout's root picks them up, and Spark
    * treats such a ROOT path as hidden too: it still reads it, but logs
    * a two-line "All paths were ignored" warning on every read. A
    * directory with no part file is passed as is, so it fails as
    * before. */
  def readParquetDir(spark: SparkSession, dir: String): DataFrame = {
    val files = parquetFiles(dir)
    spark.read.parquet((if (files.isEmpty) Seq(dir) else files): _*)
  }
}
