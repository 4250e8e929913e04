package graft
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, plus
  * failures.json naming every query that threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession(GraftSession.cores(4))
    eachQuery(spark, sfDir, outDir, only, "verify") { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    writeOracleSql(outDir, SparkEntry.oracleSql)
    spark.stop()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `<outDir>/oracle_sql.json`: query name → oracle SQL. Jackson escapes
    * every control character, so a tab or CR in the SQL cannot make the
    * driver's json.load fail and silently zero the round's correctness. */
  def writeOracleSql(outDir: String, oracle: Map[String, String]): Unit =
    mapper.writeValue(Paths.get(outDir, "oracle_sql.json").toFile, oracle)

  /** Builds and consumes every registered query named by `only` (all
    * when `None`), in registration order. An unknown name in `only`
    * throws before any query is built (see [[QueryRegistry.select]]). A
    * query that throws is named on stderr as `[tag] <name> failed: <msg>`
    * and recorded in `<outDir>/failures.json` as `{query, error}`; the
    * file is `[]` when none failed. */
  def eachQuery(spark: SparkSession, sfDir: String, outDir: String,
                only: Option[Set[String]], tag: String)
               (consume: (String, DataFrame) => Unit): Unit = {
    val selected = SparkEntry.registry.select(only)
    Files.createDirectories(Paths.get(outDir))
    val failures = selected.flatMap { q =>
      try { consume(q.name, q.build(spark, sfDir)); None }
      catch { case e: Throwable =>
        System.err.println(s"[$tag] ${q.name} failed: ${e.getMessage}")
        Some(Map("query" -> q.name, "error" -> e.toString))
      }
    }
    mapper.writeValue(Paths.get(outDir, "failures.json").toFile, failures)
  }
}
