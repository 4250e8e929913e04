package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (creation costs seconds).
  * Pinned at 4 cores whatever `SPARK_GRAFT_CPUS` says, so plan-shape
  * and fan-out assertions see the same session on every host. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(4)
}
