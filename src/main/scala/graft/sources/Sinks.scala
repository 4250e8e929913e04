package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Output contracts. The one the reference defines (map_reduce.cpp:
  * 440-450): each word owned by exactly one output partition, each
  * partition internally sorted, formatted `<word, count> `. The global
  * result is the concatenation of the part files.
  */
object Sinks {

  /** Partitioned sorted sink: hash-partition on `key` into n files,
    * sort within each — the exact contract of
    * Process_<pid>_Output_File.txt (ownership via hashpartitioning
    * instead of the reference's affine char-sum hash; final counts are
    * hash-independent, SURVEY.md §2.2). */
  def partitionedSortedText(df: DataFrame, key: String, n: Int, outPath: String,
                            format: Column): Unit =
    df.repartition(n, col(key))
      .sortWithinPartitions(key)
      .select(format.as("value"))
      .write.mode("overwrite").text(outPath)

  /** The reference's exact line format `<word, count> `. */
  def referenceLineFormat(word: String = "word", cnt: String = "cnt"): Column =
    concat(lit("<"), col(word), lit(", "), col(cnt), lit("> "))

  /** Size-governed parquet sink — the small-files antidote. At scale
    * the default failure mode is a shuffle.partitions-sized write
    * producing thousands of KB-files per job (and millions across a
    * pipeline), melting the file listing of every downstream scan.
    * Two dials together bound file count in BOTH directions:
    * `repartition(ceil(rows/target))` sets the floor (no sea of tiny
    * files), `maxRecordsPerFile` the ceiling (no skewed giant file).
    * The row count is one extra pass here; a production writer takes
    * it from the upstream stage's observed statistics instead. */
  def writeCompacted(df: DataFrame, outPath: String, targetRowsPerFile: Long): Long = {
    val rows = df.count()
    val nFiles = math.max(1L, math.ceil(rows.toDouble / targetRowsPerFile).toLong).toInt
    df.repartition(nFiles).write.mode("overwrite")
      .option("maxRecordsPerFile", targetRowsPerFile)
      .parquet(outPath)
    rows
  }
}
