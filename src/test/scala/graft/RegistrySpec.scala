package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.QuerySpec.{Q, RowsOnly}

/** The query registry: one entry per query, `queries` and `oracleSql`
  * derived from it, and a name filter that refuses unknown names. */
class RegistrySpec extends AnyFunSuite {
  private val RowsOnlyNames = Set("approx_distinct", "approx_percentiles",
    "bloom_filter_probe", "compression_ratio", "sketch_rollup")

  /** A build that counts its calls and must never be asked for a frame. */
  private def counting(n: AtomicInteger): QuerySpec.Build = (_: SparkSession, _: String) => {
    n.incrementAndGet()
    null: DataFrame
  }

  test("a repeated name is rejected, and named") {
    val n = new AtomicInteger
    val e = intercept[IllegalArgumentException] {
      QueryRegistry(Q("dup_q", counting(n))("SELECT 1"), Q("dup_q", counting(n))("SELECT 2"))
    }
    assert(e.getMessage.contains("dup_q"))
  }

  test("queries holds every registered name; oracleSql all but the rows-only ones") {
    val names = SparkEntry.registry.specs.map(_.name)
    assert(names.size === 422)
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.oracleSql.keySet === names.toSet -- RowsOnlyNames)
    assert(SparkEntry.oracleSql.size === 417)
    val rowsOnly = SparkEntry.registry.specs.collect { case QuerySpec(n, _, Left(why)) => n -> why }
    assert(rowsOnly.map(_._1).toSet === RowsOnlyNames)
    rowsOnly.foreach { case (n, why) => assert(why.trim.nonEmpty, s"$n has no rows-only reason") }
  }

  test("oracleSql is built once") {
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
    assert(SparkEntry.queries eq SparkEntry.queries)
  }

  test("deriving queries never runs a twin") {
    val n = new AtomicInteger
    val reg = QueryRegistry(
      Q("boom", counting(n))(throw new IllegalStateException("twin ran")),
      RowsOnly("sketchy", "estimates")(counting(n)))
    assert(reg.queries.keySet === Set("boom", "sketchy"))
    assert(intercept[IllegalStateException](reg.oracleSql).getMessage === "twin ran")
    assert(n.get === 0)
  }

  test("select keeps registration order and refuses unknown names before building any") {
    val n = new AtomicInteger
    val reg = QueryRegistry(Q("a", counting(n))("SELECT 1"), Q("b", counting(n))("SELECT 2"),
      RowsOnly("c", "estimates")(counting(n)))
    assert(reg.select(None).map(_.name) === Seq("a", "b", "c"))
    assert(reg.select(Some(Set("c", "a"))).map(_.name) === Seq("a", "c"))
    val e = intercept[IllegalArgumentException](reg.select(Some(Set("a", "zz", "yy"))))
    assert(e.getMessage === "requirement failed: unknown query name(s): yy, zz")
    assert(n.get === 0)
  }

  // perfbench's harness stages the events fixture during set-up by
  // finding this method on SparkEntry by reflection (it is private to
  // graft); if it moved or changed arity the staging would silently
  // fall into the first timed streaming pass
  test("SparkEntry keeps the 4-argument stageEvents the bench harness finds by reflection") {
    val found = SparkEntry.getClass.getDeclaredMethods
      .filter(m => m.getName.endsWith("stageEvents") && m.getParameterCount == 4)
    assert(found.length === 1, found.map(_.getName).mkString(", "))
    val m = found.head
    m.setAccessible(true)
    val sf = Files.createTempDirectory("graft-stage-sf").toString
    TestSpark.spark.range(8).selectExpr("id AS event_id",
        "timestamp_seconds(1700000000 + id * 60) AS ts", "id % 3 AS user_id",
        "'click' AS event_type", "CAST(id AS DOUBLE) AS value", "'{}' AS props")
      .coalesce(1).write.parquet(s"$sf/events.parquet")
    def stage(): String =
      m.invoke(SparkEntry, TestSpark.spark, sf, Int.box(1), Int.box(4)).asInstanceOf[String]
    val dir = stage()
    assert(new java.io.File(dir).isDirectory)
    // memoized per (sfDir, copies, filesPerCopy): the streaming queries
    // read the directory the harness staged
    assert(stage() === dir)
    graft.sources.FsUtil.deleteRecursively(new java.io.File(sf))
  }

  test("eachQuery with an unknown name throws, names it, and builds no query") {
    val out = Files.createTempDirectory("graft-filter").resolve("out")
    var consumed = List.empty[String]
    val e = intercept[IllegalArgumentException] {
      Verify.eachQuery(TestSpark.spark, out.resolveSibling("no-sf").toString, out.toString,
        Some(Set("wordcount", "no_such_query")), "test") { (name, _) => consumed ::= name }
    }
    assert(e.getMessage.contains("no_such_query"))
    assert(!e.getMessage.contains("wordcount"))
    assert(consumed.isEmpty)
    // nothing ran, so not even the output directory or failures.json exists
    assert(!Files.exists(out))
    Files.delete(out.getParent)
  }
}
