package graft

import java.nio.file.{Files, Paths}

/** Dumps the formatted physical plan of every registered query to
  * <outDir>/<name>.txt — the working artifact for shuffle/pushdown/
  * codegen review (the builder contract's ".explain and iterate"), plus
  * failures.json naming every query whose plan could not be built.
  * Plans at `SPARK_GRAFT_CPUS` cores (default 32, as Bench), so the
  * dumped plans are the plans Bench runs.
  *
  * Usage: runMain graft.Explain <sfDir> <outDir> [query,query,...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession(GraftSession.cores(32))
    Verify.eachQuery(spark, sfDir, outDir, only, "explain") { (name, df) =>
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
    }
    spark.stop()
  }
}
