package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{GraftExtensions, Metrics, SparkEntry}
import graft.operators.TextOps
import graft.sources.{Tables, TextCorpus}

/** The benchmark's JVM side: one closed-loop client running one named
  * workload in a single local[N] process, N = the host's cores.
  *
  * A run builds the session, then runs passes over the workload's
  * queries: the cold pass, one warm-up pass, then warm passes until
  * `--seconds` have been measured. In each query the
  * DataFrame is built, planned and then collected with every output
  * column; all three count as the query's time. Every output is checked after the clock stops. With
  * `--trace 1` the warm passes alternate untraced and traced, so one
  * process measures both sides of the tracing overhead.
  *
  * The process writes raw timings, spans and listener records to
  * `--out`; perfbench/run.py turns them into metrics. */
object Harness {

  /** Queries per workload, in the order a seed then permutes per pass. */
  val Workloads: Map[String, Seq[String]] = Map(
    "wordcount" -> Seq("wordcount"),
    "driver_rounds" -> Seq("hits_rank", "link_rings", "mmr_topk", "table_bloom_lookup"),
    "dedup_search" -> Seq("knn_hubness", "bm25_topk", "simhash"),
    "stream_ingest" -> Seq("streaming_compacted_sink", "streaming_tumbling_agg"))

  /** The table each sf query reads: the sources probe of a traced pass
    * opens it, and its file size counts toward the pass's input bytes. */
  private val Reads: Map[String, String] = Map(
    "table_bloom_lookup" -> "customer", "knn_hubness" -> "embeddings",
    "streaming_compacted_sink" -> "events", "streaming_tumbling_agg" -> "events"
  ).withDefaultValue("documents")

  private def open(t: Tables, table: String): DataFrame = table match {
    case "customer" => t.customer
    case "embeddings" => t.embeddings
    case "events" => t.events
    case _ => t.documents
  }

  /** Epoch milliseconds on the monotonic clock, comparable with the
    * listener events' own timestamps. */
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(id: Int, parent: Int, query: Int, name: String,
                        start: Double, var end: Double = -1)

  final class Recorder {
    val spans = mutable.ArrayBuffer.empty[Span]
    private var stack = List.empty[Span]
    var query = 0
    def begin(name: String): Span = {
      val s = Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0), query, name, now())
      spans += s
      stack = s :: stack
      s
    }
    def end(): Double = {
      val s = stack.head
      stack = stack.tail
      s.end = now()
      s.end - s.start
    }
    def unwind(to: String): Unit = while (stack.head.name != to) end()
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder().withExtensions(new GraftExtensions)
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamProgress].getName)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString

  /** The streaming queries read a copy of `events` that graft stages
    * once per JVM and memoises. Staging it while the session is set up
    * charges it to set-up, as the fixture it is, and not to the cold
    * pass. The stager is private to SparkEntry, hence reflection;
    * returns false if it is not found, and the staging then falls into
    * the first streaming query. */
  private def stageEvents(spark: SparkSession, dir: String): Boolean =
    SparkEntry.getClass.getDeclaredMethods
      .find(m => m.getName.endsWith("stageEvents") && m.getParameterCount == 4) match {
      case Some(m) =>
        m.setAccessible(true)
        m.invoke(SparkEntry, spark, dir, Int.box(1), Int.box(4))
        true
      case None => false
    }

  private def readLines(path: String): Seq[String] =
    if (new File(path).exists) Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq else Nil

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val queries = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = a("seed").toLong
    val budgetMs = a("seconds").toDouble * 1000
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val isWordcount = workload == "wordcount"
    val dir = a("input")
    val sfKey = a("input-key")

    // (key -> digest) verified against the DuckDB oracle in earlier runs
    val cached: Map[String, String] = readLines(a("digests")).map(_.split("\t"))
      .collect { case Array(k, _, d) => k -> d }.toMap
    val expected: Map[String, Long] = if (!isWordcount) Map.empty else
      readLines(s"$dir.expected.tsv").map(_.split("\t")).map(x => x(0) -> x(1).toLong).toMap
    val inputBytes: Long =
      if (isWordcount) Option(new File(dir).listFiles).getOrElse(Array.empty).map(_.length).sum
      else queries.map(q => new File(s"$dir/${Reads(q)}.parquet").length).sum

    // Set-up: process start to a ready session with its fixtures staged.
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, work)
    val staged = workload == "stream_ingest" && stageEvents(spark, dir)
    val setupMs = now() - jvmStart
    val sc = spark.sparkContext

    val rec = new Recorder
    val listener = new TraceListener
    val queryLog = mutable.ArrayBuffer.empty[Map[String, Any]]
    val pending = mutable.ArrayBuffer.empty[Map[String, Any]]
    val findings = mutable.ArrayBuffer.empty[Map[String, Any]]
    val firstDigest = mutable.Map.empty[String, String]
    // first-seen results, dumped for the oracle only after the passes,
    // so that no parquet write warms the JVM between timed queries
    val firstSeen = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
    var attempted = 0
    var failed = 0

    // Pass 0 is the cold pass. Pass 1 is a warm-up that counts on
    // neither side: JIT warm-up still slows it. Warm passes then fill
    // the measured window: at least two, and two traced ones on a
    // traced run.
    var warmStart = Double.MaxValue
    var pass = 0
    var warm = 0
    var warmTraced = 0
    def done: Boolean = warm >= 2 && (!trace || warmTraced >= 2) && now() - warmStart >= budgetMs
    val orders = new Random(seed)
    rec.begin("run")
    while (!done) {
      if (pass == 2) warmStart = now()
      val traced = trace && pass > 0 && pass % 2 == 0
      if (traced) sc.addSparkListener(listener)
      rec.begin("pass")
      // the cold and warm-up passes run the listed order on every seed:
      // which query runs first in a fresh JVM shapes the JIT's profile
      // and moves the whole run by up to a fifth
      val order = if (pass < 2) queries else orders.shuffle(queries)
      order.foreach { name =>
        rec.query += 1
        attempted += 1
        val mr = if (traced) Some(Metrics.install(spark)) else None
        var ok = false
        var note = ""
        var phases = Map.empty[String, Long]
        val times = mutable.LinkedHashMap.empty[String, Double]
        def timed[T](span: String)(f: => T): T = {
          rec.begin(span)
          val v = f
          times(span) = rec.end()
          v
        }
        var rows = 0
        try {
          rec.begin("query")
          val df =
            if (isWordcount) {
              val docs = timed("sources.open")(TextCorpus.readDocuments(spark, dir))
              timed("construct")(TextOps.wordCount(docs))
            } else {
              // the query opens its own tables; the probe times that step
              // apart, so it runs only where layers are measured
              if (traced) timed("sources.open")(open(Tables(spark, dir), Reads(name)))
              timed("construct")(SparkEntry.queries(name)(spark, dir))
            }
          timed("plan")(df.queryExecution.executedPlan)
          val out = timed("action")(df.collect())
          rec.end()
          rows = out.length
          phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
          // the output check runs after the clock stops
          if (isWordcount) {
            val got = out.map(r => r.getString(0) -> r.getLong(1))
            ok = got.length == expected.size && got.forall { case (w, n) => expected.get(w).contains(n) }
            if (!ok) note = s"wordcount differs from the generated expectation (${got.length} words)"
          } else {
            val digest = Digest.of(df.schema, out)
            val sql = SparkEntry.oracleSql.getOrElse(name, "")
            val key = sha256Hex(s"$sfKey\n$name\n$sql")
            cached.get(key).orElse(firstDigest.get(name)) match {
              case Some(d) =>
                ok = d == digest
                if (!ok) {
                  note = s"digest $digest differs from $d seen before for the same code and input"
                  findings += Map("query" -> name, "pass" -> pass, "want" -> d, "got" -> digest)
                }
              case None =>
                // first sight of this query: keep it for the oracle compare
                firstDigest(name) = digest
                firstSeen(name) = (df.schema, out)
                pending += Map("query" -> name, "key" -> key, "digest" -> digest, "sql" -> sql)
                ok = true
            }
          }
          if (times.values.sum > 120000) { ok = false; note = "query took over 120 s" }
        } catch {
          case e: Throwable =>
            rec.unwind("pass")
            note = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        }
        if (!ok) failed += 1
        val recorded = mr.map { r =>
          PerfbenchBus.drain(sc)
          Metrics.uninstall(spark, r)
          r.snapshot.map(s => Map(
            "func" -> s.funcName, "scan_rows" -> s.scanRows, "exchanges" -> s.shuffleExchanges))
        }.getOrElse(Nil)
        val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
        queryLog += Map("pass" -> pass, "query" -> rec.query, "name" -> name, "ok" -> ok,
          "note" -> note, "rows" -> rows, "times" -> times.toMap, "phases" -> phases,
          "blockmgr_bytes" -> used, "traced" -> traced, "recorded" -> recorded)
      }
      rec.end()
      if (traced) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(listener)
        warmTraced += 1
      } else if (pass > 1) warm += 1
      pass += 1
    }
    rec.end()
    PerfbenchBus.drain(sc)

    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    firstSeen.foreach { case (name, (schema, out)) =>
      spark.createDataFrame(out.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/oracle/$name")
    }

    val l = listener
    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "trace" -> trace,
      "setup_ms" -> setupMs, "staged" -> staged, "attempted" -> attempted, "failed" -> failed,
      "input_bytes" -> inputBytes, "heap_bytes" -> heap,
      "queries" -> queryLog, "pending" -> pending, "findings" -> findings,
      "spans" -> rec.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "query" -> s.query, "name" -> s.name, "start" -> s.start, "end" -> s.end)),
      "batches" -> StreamProgress.batches.asScala.toSeq.map(b => Map(
        "run" -> b.runId, "batch" -> b.batchId, "start" -> b.startMs, "durations" -> b.durations,
        "input_rows" -> b.inputRows, "state_bytes" -> b.stateBytes)),
      "execs" -> l.execs.values.toSeq.map(e => Map("id" -> e.id, "start" -> e.start,
        "end" -> e.end, "description" -> e.description, "plan_hash" -> e.planHash)),
      "jobs" -> l.jobs.values.toSeq.map(j => Map("id" -> j.id, "start" -> j.start,
        "end" -> j.end, "exec" -> j.execId, "stages" -> j.stageIds)),
      "stages" -> l.stages.toSeq.map(s => Map("id" -> s.id, "attempt" -> s.attempt,
        "start" -> s.start, "end" -> s.end, "tasks" -> s.tasks,
        "failed_tasks" -> l.failedTasks((s.id, s.attempt)), "task_ms" -> s.taskMs,
        "gc_ms" -> s.gcMs, "deser_ms" -> s.deserMs, "input_bytes" -> s.inputBytes,
        "output_bytes" -> s.outputBytes, "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "shuffle_read_bytes" -> s.shuffleReadBytes, "fetch_wait_ms" -> s.fetchWaitMs,
        "spill_bytes" -> s.spillBytes)))
    spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(a("out")), result)
  }
}
