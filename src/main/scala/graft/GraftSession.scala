package graft

import org.apache.spark.sql.SparkSession
import graft.sources.LocalFs

/** The one place a graft `SparkSession` is built. Every main (Verify,
  * Bench, Explain, CutoverBench, tools.LearnBpe) and the test suites get
  * the same canonical conf from here, so a dumped plan, a benched plan
  * and a tested plan differ only in core count.
  *
  * The canonical conf:
  *  - `local[cores]` with shuffle partitions = cores, so the fan-out and
  *    broadcast gates (which read `defaultParallelism`) and the shuffle
  *    width agree;
  *  - session time zone UTC;
  *  - classic (non-ANSI) semantics: the minhash/fingerprint operators
  *    rely on wrapping 64-bit arithmetic;
  *  - `parquet.nanosAsLong`: events.parquet has shipped as
  *    TIMESTAMP(NANOS) — see `Tables.events`;
  *  - AQE on;
  *  - UI off, and tight `retained*` limits: long many-query sessions
  *    must not retain per-query UI state (plan strings for wide codegen
  *    plans are MBs each);
  *  - log level WARN, so Spark INFO lines do not bury failures;
  *  - `fs.file.impl` and `fs.AbstractFileSystem.file.impl` (as
  *    `spark.hadoop.` keys) name `sources.LocalFs`: local file I/O with
  *    no `chmod`/`readlink` process per created or renamed file.
  */
object GraftSession {

  /** Core count: `SPARK_GRAFT_CPUS` when set, else the caller's default. */
  def cores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  def apply(cores: Int): SparkSession = {
    val builder = SparkSession.builder().withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
    val spark = LocalFs.conf.foldLeft(builder) { case (b, (k, v)) => b.config(s"spark.hadoop.$k", v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
