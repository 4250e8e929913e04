package graft

import org.apache.spark.sql.SparkSession

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
  *  - log level WARN, so Spark INFO lines do not bury failures.
  */
object GraftSession {

  /** Core count: `SPARK_GRAFT_CPUS` when set, else the caller's default. */
  def cores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder().withExtensions(new GraftExtensions)
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
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
