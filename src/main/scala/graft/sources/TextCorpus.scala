package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's actual input model: a directory of plain-text files
  * (`./RawText/`, map_reduce.cpp:477-495), whitespace-tokenized per
  * stream (:159). Spark's file index replaces the hand-rolled
  * opendir/readdir + MPI file dispatch: listing, splitting, locality
  * and dynamic scheduling are the task scheduler's job.
  *
  * The corpus is every non-hidden file under `dir`, at any depth, with
  * no partition columns. The directory is read as ONE root path with
  * `recursiveFileLookup`, so the file index lists it on the driver and
  * runs no Spark job, like the reference's one `readdir` loop. A glob
  * over the directory's entries expands to one root path per entry;
  * above 32 root paths (`parallelPartitionDiscovery.threshold`) Spark
  * lists them in a job with one task per path, and an explicit list of
  * file paths does the same. For a 128-file corpus that job cost more
  * than counting the words. `recursiveFileLookup` also turns off
  * partition inference, so a `k=v/` subdirectory next to plain files is
  * read as plain files instead of failing with
  * CONFLICTING_DIRECTORY_STRUCTURES. The file set is the glob's for
  * files in `dir` and in its subdirectories; files two or more
  * subdirectories down (depth 3+), which the glob skipped, are read
  * too. Hidden files (`_SUCCESS`, `.name`) are skipped.
  */
object TextCorpus {

  private def corpus(spark: SparkSession) =
    spark.read.option("recursiveFileLookup", "true")

  /** One row per line, with the source file path — the scan half of
    * the reference pipeline. */
  def readLines(spark: SparkSession, dir: String): DataFrame =
    corpus(spark).textFile(dir).toDF("value")
      .withColumn("path", input_file_name())

  /** A documents-shaped table (doc per file) from a raw text dir:
    * doc_id = hash of path, text = the file's full content. Lets every
    * documents operator (wordcount, dedup, quality) run off raw text
    * exactly as the reference consumed it.
    *
    * `wholetext` reads each file as ONE record, so text is byte-exact
    * and deterministic — the previous groupBy + collect_list rebuild
    * had shuffle-order-dependent line order, which silently broke
    * order-sensitive downstreams (shingles, rolling-hash fingerprints)
    * across runs. */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    corpus(spark).option("wholetext", "true").text(dir)
      .withColumn("path", input_file_name())
      .withColumn("doc_id", xxhash64(col("path")))
      .select(col("doc_id"), col("value").as("text"), col("path"))

  /** The reference's 8x file-replay workload (LOOP_OVER_DIRECTORY,
    * map_reduce.cpp:36, 130) reproduced at the source level. */
  def readLinesX(spark: SparkSession, dir: String, replay: Int): DataFrame =
    readLines(spark, dir)
      .crossJoin(broadcast(spark.range(replay).select(col("id").as("replay_i"))))
}
