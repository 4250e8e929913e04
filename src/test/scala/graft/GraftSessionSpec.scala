package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.scalatest.funsuite.AnyFunSuite

/** The canonical session conf, pinned: a drift between the session the
  * tests run on and the one GraftSession builds for Verify, Bench and
  * Explain fails here instead of surfacing as a changed plan dump. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("TestSpark carries the canonical conf at 4 cores") {
    assert(spark.sparkContext.defaultParallelism === 4)
    val conf = spark.conf
    assert(conf.get("spark.sql.ansi.enabled") === "false")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") === "true")
    assert(conf.get("spark.sql.shuffle.partitions").toInt ===
      spark.sparkContext.defaultParallelism)
    graft.sources.LocalFs.conf.foreach { case (k, v) =>
      assert(spark.sparkContext.hadoopConfiguration.get(k) === v, k)
    }
  }

  test("GraftExtensions are installed: vec_dot resolves in SQL") {
    assert(spark.sql("select vec_dot(array(1d), array(2d))").head().getDouble(0) === 2.0)
  }

  private def readJson(file: java.io.File): Any =
    new ObjectMapper().registerModule(DefaultScalaModule).readValue(file, classOf[Map[String, Any]])

  test("oracle_sql.json parses back equal to the map written, control characters included") {
    val dir = Files.createTempDirectory("graft-oracle-sql")
    val file = dir.resolve("oracle_sql.json").toFile
    try {
      Verify.writeOracleSql(dir.toString, SparkEntry.oracleSql)
      assert(readJson(file) === SparkEntry.oracleSql)
      val nasty = Map(
        "tab" -> "select\t1",
        "cr" -> "select 1\r\nfrom t",
        "soh" -> "select '\u0001' as c",
        "quote \"and\" backslash\\" -> "select '\\' || \"q\"")
      Verify.writeOracleSql(dir.toString, nasty)
      assert(readJson(file) === nasty)
    } finally {
      file.delete()
      Files.delete(dir)
    }
  }

  test("failures.json names each query that threw, and is [] when none did") {
    val dir = Files.createTempDirectory("graft-failures")
    val file = dir.resolve("failures.json").toFile
    def failures(): Any =
      new ObjectMapper().registerModule(DefaultScalaModule).readValue(file, classOf[Seq[Map[String, String]]])
    try {
      Verify.eachQuery(spark, "/root/testdata/sf0.001", dir.toString, Some(Set("wordcount")), "test") {
        (_, _) => throw new IllegalStateException("boom")
      }
      assert(failures() === Seq(Map("query" -> "wordcount", "error" -> "java.lang.IllegalStateException: boom")))
      Verify.eachQuery(spark, "/root/testdata/sf0.001", dir.toString, Some(Set("wordcount")), "test") {
        (_, df) => assert(df.columns.nonEmpty)
      }
      assert(failures() === Seq.empty)
    } finally {
      file.delete()
      Files.delete(dir)
    }
  }
}
