package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators._
import graft.sources.{LocalFs, Tables}
import graft.streaming.EventStreams
import graft.queries._

/** The query entry points (build plan: SURVEY.md §7).
  *
  * `registry` concatenates the query families, one `<Family>Queries`
  * object per file under graft/queries. Each holds one entry per query:
  * its name, its Spark build (a thin wrapper over a library operator,
  * graft.operators.*) and either its DuckDB twin — `Q(name, build)(sql)`
  * — or, for the few results no SQL engine can reproduce,
  * `RowsOnly(name, reason)(build)`. A twin has IDENTICAL output column
  * names and, where floating point is aggregated, order-independent
  * decimal accumulation on both sides (see graft.functions.dsum). Twin
  * fragments two or more families share live in `queries.Twins`.
  *
  * This object keeps the stream and lake fixtures the families build
  * on, the concatenation, and the maps derived from it: `queries` and
  * `oracleSql` are derived from the registry once; twin SQL is only
  * built by `oracleSql`.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TextOps.wordCount(Tables(spark, "/root/testdata/sf0.001").documents)

  private[graft] def t(s: SparkSession, dir: String) = Tables(s, dir)

  /** Streaming queries run in an ISOLATED cloned session with state
    * partitioning sized to the stream: every stateful operator keeps
    * one state store per shuffle partition per micro-batch (a
    * stream-stream join keeps FOUR), so inheriting the CPU-count
    * partitioning multiplies store commits and checkpoint I/O by core
    * count with zero gain on a bounded stream. At 100 TB the same dial
    * is sized to key cardinality and state volume, not executor count.
    * newSession() shares the SparkContext but isolates SQL conf — no
    * global session state is mutated (the loader-side-effect
    * anti-pattern flagged in round 1).
    *
    * One stream session per (session, partitions, state-store
    * provider), made on first use: every session that starts a stream
    * registers a listener bus on the shared one and never removes it,
    * so a session per query kept each one, its catalog and its memory
    * sinks reachable. `stateStore` names a provider class (e.g.
    * [[RocksDbStateStore]]); None is Spark's default. The session also
    * - checkpoints through `sources.LocalFs` (FileContext reads
    *   `fs.AbstractFileSystem.file.impl` from this session's conf,
    *   whoever built the SparkContext);
    * - runs state-store maintenance every second, which unloads a
    *   stopped query's providers (the coordinator has deactivated
    *   them) instead of holding them for the default 60 s. */
  private[graft] def streamSession(s: SparkSession, partitions: Int = 4,
                                   stateStore: Option[String] = None): SparkSession =
    streamSessions.synchronized {
      streamSessions.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
        .getOrElseUpdate((partitions, stateStore), {
          val ss = s.newSession()
          ss.conf.set("spark.sql.shuffle.partitions", partitions)
          ss.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "1s")
          stateStore.foreach(ss.conf.set("spark.sql.streaming.stateStore.providerClass", _))
          ss.conf.set(LocalFs.ContextKey, LocalFs.conf(LocalFs.ContextKey))
          ss
        })
    }

  /** [[streamSession]]'s sessions, weakly keyed by the session they were
    * cut from. */
  private val streamSessions = scala.collection.mutable.WeakHashMap.empty[SparkSession,
    scala.collection.mutable.Map[(Int, Option[String]), SparkSession]]

  private[graft] val RocksDbStateStore =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Staged micro-batch source dirs, memoized per (sfDir, copies,
    * filesPerCopy). Staging the events table into N parquet files is
    * FIXTURE setup — the stream under measurement starts at the file
    * source — so paying the write once per JVM (instead of on every
    * invocation: the bench times each query 2-3×) keeps the measured
    * region the streaming operator itself and stops temp-dir churn
    * across a long session. */
  private val stagedEvents =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int), String]
  // staged dirs are deleted on JVM exit (File.deleteOnExit cannot
  // remove non-empty dirs, so one recursive-delete hook instead)
  private lazy val stagedCleanup: Unit = sys.addShutdownHook {
    (stagedEvents.values ++ stagedLayouts.values).foreach { dir =>
      graft.sources.FsUtil.deleteRecursively(new java.io.File(dir))
    }
  }

  /** Clustered-layout fixtures for the data-skipping queries
    * (StatsManifest), memoized per (sfDir, kind) like stagedEvents:
    * the layout WRITE is fixture staging, the operator under test is
    * the manifest-pruned read. */
  private val stagedLayouts =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]
  private[graft] def stageLayout(s: SparkSession, d: String, kind: String)
                                (write: String => Unit): String =
    stagedLayouts.getOrElseUpdate((d, kind), {
      stagedCleanup
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-layout-$kind").toString
      write(tmp)
      tmp
    })

  /** Lands `df` as the one flat file `<dir>/<name>.parquet` with
    * modification time `mtime`: a coalesce(1) write to a hidden stage
    * dir, then a rename. The file stream lists the LEAVES of its source
    * dir and orders them by mtime, so `mtime` sets the arrival order.
    * A stage that wrote no part fails loudly, naming the stage dir (a
    * bare .get threw an anonymous NoSuchElementException when a stripe
    * wrote no part — e.g. sparse doc_ids leaving a range empty). */
  private def landFile(df: DataFrame, dir: String, name: String, mtime: Long): Unit = {
    val stage = s"$dir/.stage-$name"
    df.coalesce(1).write.parquet(stage)
    val files = Option(new java.io.File(stage).listFiles()).getOrElse(Array.empty)
    val part = files.find(_.getName.endsWith(".parquet")).getOrElse(
      sys.error(s"fixture stage $stage wrote no parquet part " +
        s"(files: ${files.map(_.getName).mkString(", ")}) — empty id stripe?"))
    val dest = new java.io.File(s"$dir/$name.parquet")
    require(part.renameTo(dest), s"staging move failed for $dest")
    dest.setLastModified(mtime)
    graft.sources.FsUtil.deleteRecursively(new java.io.File(stage))
  }

  /** Lands `df` as `nFiles` files `<prefix><i>.parquet` holding
    * contiguous doc_id ranges, modification times strictly increasing
    * with the range. */
  private def landIdRanges(df: DataFrame, dir: String, prefix: String, nFiles: Int): Unit = {
    val maxId = df.agg(max(col("doc_id"))).head().getLong(0)
    val per = maxId / nFiles + 1
    (0 until nFiles).foreach { i =>
      landFile(df.where(col("doc_id") >= i * per && col("doc_id") < (i + 1) * per),
        dir, s"$prefix$i", 1000000L * (i + 1))
    }
  }

  /** The LakeTable fixture: base projection + a KEY-LOCALIZED CDC batch
    * (updates/deletes over keys 300-400, inserts at key+100000), shared
    * by table_commit / table_time_travel and their DuckDB twins. The
    * locality is the point: only the data files whose key interval
    * meets [300, 400] are rewritten by the commit. */
  private[graft] def tableCommitBase(s: SparkSession, d: String): DataFrame =
    t(s, d).customer.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))

  /** CDC batch over [lo, hi] — the default range spans multiple files
    * at sf0.01; `table_evolve` narrows to [10, 30] because keys above
    * 149 don't exist at sf0.001 and an EMPTY evolving batch commits no
    * file carrying the new column (correct lake semantics — schema
    * evolves only where data lands — but the query would then select a
    * column the table never grew). */
  private[graft] def tableCommitChanges(s: SparkSession, d: String,
                                        lo: Long = 300, hi: Long = 400): DataFrame = {
    val inRange = t(s, d).customer.where(col("c_custkey").between(lo, hi))
    val updates = inRange.select(col("c_custkey"),
      when(col("c_custkey") % 7 === 3, "delete").otherwise("upsert").as("op"),
      when(col("c_custkey") % 7 === 3, lit(null).cast("string"))
        .otherwise(lit("MOVED")).as("c_mktsegment"),
      lit(null).cast("double").as("c_acctbal"))
    val inserts = inRange.where(col("c_custkey") % 50 === 0)
      .select((col("c_custkey") + 100000).as("c_custkey"), lit("upsert").as("op"),
        lit("NEW").as("c_mktsegment"), lit(0.0).as("c_acctbal"))
    updates.unionAll(inserts)
  }

  /** Staged document drops for the streaming ingest: 4 parquet files
    * holding contiguous doc_id ranges, modification times strictly
    * increasing with the range, so the file stream (sorted by
    * timestamp) delivers documents in id order — making the streaming
    * run's "first occurrence wins" equal the batch oracle's min-id
    * rule. Memoized per sfDir like the other fixtures. */
  private[graft] def stageDocStream(s: SparkSession, d: String,
                                    withSource: Boolean = false): String =
    stageLayout(s, d, s"docstream4${if (withSource) "s" else ""}") { tmp =>
      val cols = if (withSource) Seq(col("doc_id"), col("lang"), col("source"), col("text"))
                 else Seq(col("doc_id"), col("lang"), col("text"))
      landIdRanges(t(s, d).documents.select(cols: _*), tmp, "d", nFiles = 4)
    }

  /** The streamed corpus: [[stageDocStream]]'s files read one per
    * micro-batch in a fresh [[streamSession]], which is returned with
    * the stream. */
  private[graft] def docStream(s: SparkSession, d: String,
                               withSource: Boolean = false): (SparkSession, DataFrame) = {
    val src = stageDocStream(s, d, withSource)
    val ss = streamSession(s)
    val schema = if (withSource) "doc_id LONG, lang STRING, source STRING, text STRING"
                 else "doc_id LONG, lang STRING, text STRING"
    (ss, EventStreams.fileStream(ss, src, StructType.fromDDL(schema)))
  }

  /** Staged HTML-page drops (the crawl-stream fixture): pageFromDocs
    * over the corpus, split into 4 ordered files like
    * [[stageDocStream]]. */
  private def stagePageStream(s: SparkSession, d: String): String =
    stageLayout(s, d, "pagestream4") { tmp =>
      // lang rides along as crawl metadata (page-level language header)
      val pages = Html.pageFromDocs(t(s, d).documents)
        .join(t(s, d).documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
      landIdRanges(pages, tmp, "p", nFiles = 4)
    }

  /** The streamed crawl: [[stagePageStream]]'s files read one per
    * micro-batch in a fresh [[streamSession]], which is returned with
    * the stream. */
  private[graft] def pageStream(s: SparkSession, d: String): (SparkSession, DataFrame) = {
    val src = stagePageStream(s, d)
    val ss = streamSession(s)
    (ss, EventStreams.fileStream(ss, src,
      StructType.fromDDL("doc_id LONG, html STRING, lang STRING")))
  }

  /** The streamed crawl containers: the `.warc` files of a
    * [[stageWarcStream]] dir, one per micro-batch, as `binaryFile` rows
    * (a file stream needs an explicit schema; binaryFile's is fixed). */
  private[graft] def warcStream(ss: SparkSession, src: String): DataFrame =
    EventStreams.fileStream(ss, s"$src/*.warc", StructType.fromDDL(
      "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"), "binaryFile")

  /** The events table staged as `copies` writes of `filesPerCopy`
    * parquet files, memoized in [[stagedEvents]]. perfbench's harness
    * finds this 4-argument method on SparkEntry by reflection and calls
    * it during set-up, so the streaming queries read the dir it staged:
    * its name, arity, owner and memo must stay (RegistrySpec pins them). */
  private[graft] def stageEvents(s: SparkSession, d: String, copies: Int, filesPerCopy: Int): String =
    stagedEvents.getOrElseUpdate((d, copies, filesPerCopy), {
      stagedCleanup
      val tmp = java.nio.file.Files.createTempDirectory("graft-stream-src").toString
      (1 to copies).foreach { i =>
        t(s, d).events.coalesce(filesPerCopy).write
          .mode(if (i == 1) "overwrite" else "append").parquet(tmp)
      }
      tmp
    })

  /** Event staging for the OUTER stream-stream join: the real events
    * (4 files) plus one far-future click+purchase pair for a sentinel
    * user, in its own file with a maximal modification time so the
    * mtime-ordered file source delivers it LAST. The sentinel advances
    * both branch watermarks past every real event, so the final
    * no-data batch can evict remaining join state and emit the
    * unmatched-null rows — without it, purchases near the stream's end
    * would still be "maybe matched later" when the bounded run stops,
    * and the batch-equality oracle would miss rows. */
  private[graft] def stageEventsWithFlush(s: SparkSession, d: String): String =
    stageLayout(s, d, "events-flush") { tmp =>
      t(s, d).events.coalesce(4).write.mode("overwrite").parquet(tmp)
      val sentinel = t(s, d).events.limit(1).select(
          lit(-1L).as("event_id"),
          expr("timestamp'2199-01-01 00:00:00'").as("ts"),
          lit(-1L).as("user_id"),
          explode(array(lit("click"), lit("purchase"))).as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
      landFile(sentinel, tmp, "sentinel", 4102444800000L) // year 2100 ≫ any staged mtime
    }

  /** The boilerplated page fixture: the shared cookie paragraph
    * ([[Html.BoilerFixturePara]]) injected after every `<div>` opener
    * of each (doc_id, html) page. */
  private[graft] def boilerplated(pages: DataFrame): DataFrame =
    pages.select(col("doc_id"), regexp_replace(col("html"), "<div>\n",
      java.util.regex.Matcher.quoteReplacement("<div>\n" + Html.BoilerFixturePara)).as("html"))

  /** WARC record metadata for the crawl fixtures: each (doc_id, html)
    * page gets its fixture URL and the fetch_ts stamp
    * 1700000000 + doc_id. */
  private[graft] def warcMeta(pages: DataFrame): DataFrame = {
    val id = col("doc_id")
    pages.select(col("doc_id"),
      concat(lit("https://"), Html.fixtureHost(id % Html.SiteSpace),
        lit("/doc/"), id.cast("string")).as("url"),
      (lit(1700000000L) + id).as("fetch_ts"), col("html"))
  }

  /** Staged WARC container drops (the crawl-stream fixture): `pages`
    * with [[warcMeta]], framed into 8 containers, each landed as
    * `c<id>.warc` with an mtime in container order. Memoized per
    * (sfDir, kind) like the other fixtures. */
  private[graft] def stageWarcStream(s: SparkSession, d: String, kind: String)
                                    (pages: => DataFrame): String =
    stageLayout(s, d, kind) { tmp =>
      graft.sources.Warc.containersFromDocs(warcMeta(pages), nContainers = 8)
        .collect().foreach { r => // 8 container blobs — fixture staging
          val cid = r.getLong(0)
          val f = new java.io.File(s"$tmp/c$cid.warc")
          java.nio.file.Files.write(f.toPath, r.getAs[Array[Byte]](1))
          f.setLastModified(1000000L * (cid + 1))
        }
    }

  /** Staged embedding drops for the streaming ANN ingest: the held-out
    * residue class split into `nFiles` mtime-ordered parquet files. */
  private[graft] def stageVecStream(s: SparkSession, d: String, nFiles: Int): String =
    stageLayout(s, d, s"vecstream$nFiles") { tmp =>
      val batch = t(s, d).embeddings.where(col("vec_id") % 7 === 3)
        .select(col("vec_id"), col("embedding"))
      (0 until nFiles).foreach { i =>
        landFile(batch.where(col("vec_id") % nFiles === i), tmp, s"v$i", 1000000L * (i + 1))
      }
    }

  /** Eagerly stage every (copies, filesPerCopy) fixture the streaming
    * queries use. The bench calls this BEFORE timing begins so the
    * first timed sample of a streaming query never includes the
    * one-time parquet fixture write (best-of-2 usually hid it, but it
    * could still trigger the adaptive third sample). */
  def stageAllEventFixtures(s: SparkSession, d: String): Unit = {
    stageEvents(s, d, copies = 1, filesPerCopy = 4)
    stageEvents(s, d, copies = 2, filesPerCopy = 2)
    ()
  }

  /** Line fixture for the C4 rule engine: each doc's 12-word slices
    * decorated with closed-form dirt — (doc_id+i)%5==0 loses terminal
    * punctuation, (doc_id+i)%7==1 gains a brace (while keeping its
    * '.', so the brace rule is what fires) — plus four injected lines
    * covering the 'javascript', kept-sentence, 'lorem ipsum', and
    * too-short cases. pos is the array index (injected head at 0-1,
    * body at 2.., tail last); the twin mirrors the same arithmetic. */
  private[graft] def c4LineFixture(s: SparkSession, d: String): DataFrame = {
    val ws = TextOps.rawTokens(col("text"))
    val docs = t(s, d).documents.select(col("doc_id"), ws.as("ws"))
      .withColumn("np", ceil(size(col("ws")).cast("double") / 12).cast("int"))
    val body = when(col("np") > 0, transform(sequence(lit(1), col("np")), i => {
      val raw = concat_ws(" ", slice(col("ws"), (i - 1) * 12 + 1, lit(12)))
      when((col("doc_id") + i) % 5 === 0, raw)
        .when((col("doc_id") + i) % 7 === 1, concat(raw, lit(" {.")))
        .otherwise(concat(raw, lit(".")))
    })).otherwise(array().cast("array<string>"))
    // even docs carry a THIRD identical head line: the fully-injected
    // (0,1,2) span is then shared across documents, which is what
    // gives span_scrub a genuinely-firing cross-doc contamination case
    val head = when(col("doc_id") % 2 === 0,
      array(lit("Enable javascript to view this site properly."),
        lit("This sentence has exactly seven useful words."),
        lit("A shared preamble sentence appears in even documents.")))
      .otherwise(array(lit("Enable javascript to view this site properly."),
        lit("This sentence has exactly seven useful words.")))
    docs.select(col("doc_id"),
      posexplode(concat(head, body,
        array(lit("Lorem ipsum dolor sit amet consectetur adipiscing elit."),
          lit("Too short.")))).as(Seq("pos", "line")))
  }

  /** Deterministic curated-vs-crawl labeling for the NB classifier:
    * even-numbered sources are the "curated" positive class, docs with
    * doc_id%10<7 are the train split — both closed-form so the twin
    * derives the same labels. */
  private[graft] def nbLabeled(s: SparkSession, d: String): DataFrame =
    t(s, d).documents.select(col("doc_id"), col("text"),
      (substring(col("source"), 4, 10).cast("int") % 2 === 0).as("is_pos"),
      (col("doc_id") % 10 < 7).as("is_train"))

  /** Every query, one entry each, in registration order: the families
    * are concatenated in this order, each one file under graft/queries. */
  lazy val registry: QueryRegistry = new QueryRegistry(Seq(
    ReferenceQueries.specs,
    RelationalQueries.specs,
    WindowQueries.specs,
    TpchDepthQueries.specs,
    DedupSearchQueries.specs,
    EmbeddingQueries.specs,
    TextStatsQueries.specs,
    WebGraphQueries.specs,
    PostTrainingQueries.specs,
    CrawlPipelineQueries.specs,
    CorpusQueries.specs,
    TableMaintenanceQueries.specs,
    MultimodalQueries.specs,
    StreamingQueries.specs).flatten)

  /** Name → Spark build, for every entry; builds no twin. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = registry.queries

  /** Name → DuckDB twin SQL, for every `Q` entry; built once, on first use. */
  lazy val oracleSql: Map[String, String] = registry.oracleSql
}
