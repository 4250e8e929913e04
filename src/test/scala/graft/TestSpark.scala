package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (creation costs seconds).
  * Pinned at 4 cores whatever `SPARK_GRAFT_CPUS` says, so plan-shape
  * and fan-out assertions see the same session on every host. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(4)

  /** Spark jobs started while `body` runs. Listener delivery is async
    * but ordered, so a marker job run after `body` bounds the count:
    * once its start arrives, every job `body` started has arrived. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val marker = s"test-spark-marker-${System.nanoTime()}"
    val seen = new AtomicInteger(0)
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => marker == p.getProperty("spark.job.description")))
          markerSeen.countDown()
        else if (markerSeen.getCount > 0) seen.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(markerSeen.await(30, TimeUnit.SECONDS), "marker job never reached the listener")
      (out, seen.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
