package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet tables (TESTDATA.md): one
  * parquet file per table under `dir` (e.g. /root/testdata/sf0.01).
  *
  * Parquet is the primary source of the engine (reference analog: the
  * `./RawText/` directory scan, map_reduce.cpp:477-495, replaced by
  * Spark's InMemoryFileIndex + vectorized columnar scan). Filters and
  * projections applied downstream reach the scan via Catalyst pushdown.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")
  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")
  /** events.ts has shipped in two physical layouts across testdata
    * generations: nanosecond-precision INT64 (TIMESTAMP(NANOS), which
    * Spark 4 only reads under `spark.sql.legacy.parquet.nanosAsLong=
    * true`, as a raw Long) and native TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false (which Spark infers as TIMESTAMP_NTZ).
    * Branch on the inferred type so either file works, and normalize
    * both to session-zoned TimestampType so every downstream window /
    * watermark / oracle-compare path sees one type. Sessions run with
    * timeZone=UTC, so the NTZ→TZ cast reinterprets the wall-clock
    * value as UTC — the same instant DuckDB's CAST(ts AS TIMESTAMP)
    * produces. Integer `div`, not `/`, for the nanos branch:
    * epoch-nanos ~1.7e18 exceeds double precision. */
  def events: DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType =>
        // a LongType ts only appears when nanosAsLong is on; if the
        // session lacks it the read fails earlier with Spark's own
        // TIMESTAMP(NANOS) error — nothing to guard here beyond docs
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // the NTZ→TZ cast reinterprets wall-clock in the SESSION zone;
        // only UTC matches DuckDB's CAST(ts AS TIMESTAMP) — fail loud
        // instead of diverging silently until the hash gate trips
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          s"events.parquet carries TIMESTAMP_NTZ: the session must run with " +
            s"spark.sql.session.timeZone=UTC (got '${spark.conf.get("spark.sql.session.timeZone")}') " +
            "or every downstream window/watermark/oracle compare shifts by the zone offset")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** Exact row count of a table from its parquet FOOTERS — the
    * catalog stat that lets adaptive operators ([[graft.operators
    * .Profiling.skewReport]], the quantile family's `sizeHint`) pick
    * their WindowCutover branch without running a count job
    * (VERDICT r13 #4). Driver-side, file-count-scale (one footer read
    * per data file — the LakeTable-manifest cost class, bounded by
    * file count, never row count); no Spark job is scheduled. */
  def rowCountStat(name: String): Long = Tables.footerRowCount(spark,
    Tables.visibleParquetFiles(spark, s"$dir/$name.parquet"))
}

object Tables {
  /** The parquet files a reader of `path` (a parquet file or a
    * directory of part files) sees, recursively. Same visibility rule
    * as Spark's InMemoryFileIndex: names starting with '_' or '.' are
    * metadata/hidden (in-flight writer temps, _SUCCESS, .crc) and are
    * invisible to df.count() — counting them would silently disagree
    * with the reader. */
  private def visibleParquetFiles(spark: SparkSession, path: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def visible(name: String) = !name.startsWith("_") && !name.startsWith(".")
    def files(p: Path): Seq[Path] =
      if (fs.getFileStatus(p).isFile) Seq(p)
      else fs.listStatus(p).toSeq
        .filter(c => visible(c.getPath.getName))
        .flatMap(c => if (c.isFile) {
          if (c.getPath.getName.endsWith(".parquet")) Seq(c.getPath) else Nil
        } else files(c.getPath))
    files(root).map(_.toString)
  }

  // footer counts keyed by (path, length, modificationTime) — parquet
  // part files are normally immutable, but an external writer CAN
  // rewrite a file in place at the same path; keying on the FileStatus
  // identity means such a rewrite misses the cache and re-reads the
  // footer instead of serving a stale count (which could wrongly prove
  // a now-large frame small). Bounds the driver metadata I/O when many
  // adaptive operators consult the same relation.
  private val footerCountCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), java.lang.Long]()

  /** THE parquet footer reader: sum of footer record counts of an
    * explicit file list, cached per file. Footer metadata only — no
    * data pages are read and no Spark job is scheduled. Throws when a
    * footer is unreadable. */
  private def footerRowCount(spark: SparkSession, paths: Seq[String]): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    paths.map { p =>
      val path = new Path(p)
      val st = path.getFileSystem(conf).getFileStatus(path)
      footerCountCache.computeIfAbsent((p, st.getLen, st.getModificationTime), _ => {
        val rd = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
        try rd.getRecordCount finally rd.close()
      }).longValue()
    }.sum
  }

  /** [[footerRowCount]] for the [[graft.operators.TotalOrder.statRowBound]]
    * leaf (a FileIndex's inputFiles): None when any footer is unreadable
    * (non-parquet sidecar, racing writer) so the caller falls back to
    * counting. */
  def parquetFilesRowCount(spark: SparkSession, paths: Seq[String]): Option[Long] =
    try Some(footerRowCount(spark, paths))
    catch { case scala.util.control.NonFatal(_) => None }
}
