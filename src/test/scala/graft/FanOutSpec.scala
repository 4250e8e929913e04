package graft

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.FanOut

/** The three arms of the gated scan fan-out: a wide source and a
  * non-narrow plan pass through untouched, a narrow single-partition
  * source is repartitioned to its byte-sized target. */
class FanOutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val cores = spark.sparkContext.defaultParallelism

  test("a source already at >= cores/2 partitions comes back unchanged") {
    val src = spark.range(0, 1000, 1, cores / 2).select(col("id"), (col("id") * 2).as("v"))
    assert(src.rdd.getNumPartitions * 2 >= cores)
    assert(FanOut.fanOutIfNarrow(src, col("id"), bytesPerTask = 1L) eq src)
  }

  test("a non-narrow input comes back unchanged and runs no job inside the call") {
    // an aggregate over a broadcast join: probing its RDD partition
    // count would run the broadcast job, then the query would run it again
    val agg = spark.range(0, 1000, 1, 1).join(spark.range(0, 100, 1, 2), "id")
      .groupBy((col("id") % 7).as("k")).count()
    val (out, jobs) = TestSpark.jobsDuring(FanOut.fanOutIfNarrow(agg, col("k"), bytesPerTask = 1L))
    assert(jobs === 0, "probing a non-narrow plan must not execute it")
    assert(out eq agg)
    assert(out.count() === 7)
  }

  test("a one-partition narrow source fans to clamp(ceil(bytes / bytesPerTask), srcParts + 1, cores)") {
    val src = spark.range(0, 1000, 1, 1).select(col("id"), lit("payload").as("s"))
      .where(col("id") % 3 =!= 1)
    val srcParts = src.rdd.getNumPartitions
    assert(srcParts === 1)
    val bytes = src.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    def expected(bytesPerTask: Long): Int = {
      val byBytes = (bytes + bytesPerTask - 1) / bytesPerTask
      math.max(srcParts + 1, math.min(cores.toLong, byBytes).toInt)
    }
    // the lower clamp, an in-range byte-sized target, the upper clamp
    val perTask = Seq(FanOut.DefaultBytesPerTask, (bytes + 2) / 3, 1L)
    assert(perTask.map(expected) === Seq(srcParts + 1, 3, cores))
    for (bpt <- perTask) {
      val out = FanOut.fanOutIfNarrow(src, col("id"), bpt)
      assert(out.rdd.getNumPartitions === expected(bpt), s"bytesPerTask=$bpt")
      assert(out.collect().toSet === src.collect().toSet)
    }
  }
}
