package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextOps
import graft.sources.{Sinks, TextCorpus}

/** Raw-text corpus in, partitioned sorted text out — the reference's
  * full I/O contract (FIXTURES.md §1 fixtures; map_reduce.cpp:440-450
  * output format). */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mkCorpus(): String = {
    val dir = Files.createTempDirectory("graft-rawtext")
    Files.writeString(dir.resolve("plain.txt"), "spark spark engine\nspark engine\n")
    Files.writeString(dir.resolve("punct.txt"), """don't end. co-op (a) --""")
    Files.writeString(dir.resolve("case.txt"), "The THE the")
    Files.writeString(dir.resolve("empty.txt"), "")
    dir.toString
  }

  test("readDocuments + wordCount reproduces the reference pipeline on raw text") {
    val docs = TextCorpus.readDocuments(spark, mkCorpus())
    val counts = TextOps.wordCount(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map(
      "spark" -> 3, "engine" -> 2,
      "dont" -> 1, "end" -> 1, "coop" -> 1, "a" -> 1,
      "the" -> 3))
  }

  test("x8 replay at source level multiplies counts by 8") {
    val lines = TextCorpus.readLinesX(spark, mkCorpus(), 8)
    val counts = TextOps.wordCount(lines.withColumnRenamed("value", "text"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("spark") === 24)
  }

  /** 40 files (above Spark's 32-root-path parallel listing threshold)
    * plus hidden files, a plain subdirectory, a `k=v` subdirectory and
    * a file at depth 3. */
  private def mkListingCorpus(): (String, String) = {
    val dir = Files.createTempDirectory("graft-listing")
    for (i <- 0 until 40) Files.writeString(dir.resolve(f"f$i%02d.txt"), s"file $i\nline two of $i\n")
    Files.writeString(dir.resolve("_SUCCESS"), "marker\n")
    Files.writeString(dir.resolve(".hidden"), "hidden\n")
    Files.createDirectories(dir.resolve("sub/deeper"))
    Files.createDirectories(dir.resolve("k=v"))
    Files.writeString(dir.resolve("sub/two.txt"), "two\n")
    Files.writeString(dir.resolve("k=v/three.txt"), "three\n")
    val deep = dir.resolve("sub/deeper/four.txt")
    Files.writeString(deep, "four\n")
    (dir.toString, deep.toUri.getPath)
  }

  test("TextCorpus lists the corpus on the driver: the glob's rows to depth 2, depth 3 added, no partition column, no job") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, input_file_name}
    val (dir, deep) = mkListingCorpus()
    def rows(df: DataFrame, text: String): Set[(String, String)] =
      df.select(col("path"), col(text)).collect().map(r => r.getString(0) -> r.getString(1)).toSet
    def isDeep(row: (String, String)) = row._1.endsWith(deep)

    // the reference: the same reads over a glob, which lists with a job
    val (globDocs, globJobs) = TestSpark.jobsDuring(
      spark.read.option("wholetext", "true").text(s"$dir/*").withColumn("path", input_file_name()))
    assert(globJobs >= 1, "the fixture no longer crosses the parallel listing threshold")
    val globLines = spark.read.textFile(s"$dir/*").toDF("value").withColumn("path", input_file_name())

    val (docs, docJobs) = TestSpark.jobsDuring(TextCorpus.readDocuments(spark, dir))
    assert(docJobs === 0, "readDocuments must list the directory on the driver")
    val (lines, lineJobs) = TestSpark.jobsDuring(TextCorpus.readLines(spark, dir))
    assert(lineJobs === 0, "readLines must list the directory on the driver")
    assert(docs.columns.toSeq === Seq("doc_id", "text", "path"))
    assert(lines.columns.toSeq === Seq("value", "path"))

    for ((got, want) <- Seq(rows(docs, "text") -> rows(globDocs, "value"),
                            rows(lines, "value") -> rows(globLines, "value"))) {
      assert(got.filterNot(isDeep) === want)
      assert(got.filter(isDeep).map(_._2.trim) === Set("four"), "depth 3 is read")
      assert(got.exists(_._1.endsWith("/k=v/three.txt")) && got.exists(_._1.endsWith("/sub/two.txt")))
      assert(!got.exists(r => r._1.endsWith("/_SUCCESS") || r._1.endsWith("/.hidden")))
    }
    assert(docs.count() === 40 + 3)
  }

  test("partitionBy layout: partition filter reaches the file index, only one dir scanned") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graft-partlayout").toString
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    val pruned = spark.read.parquet(out).where(col("o_orderpriority") === "1-URGENT")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("1-URGENT"), plan)
    // value check: pruned scan == full-table filter
    val full = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .where(col("o_orderpriority") === "1-URGENT")
    assert(pruned.count() === full.count() && pruned.count() > 0)
  }

  test("partitioned sorted text sink: disjoint ownership, sorted parts, reference format") {
    val out = Files.createTempDirectory("graft-sink").toString + "/wc"
    val wc = TextOps.wordCount(TextCorpus.readDocuments(spark, mkCorpus()))
    Sinks.partitionedSortedText(wc, "word", 3, out, Sinks.referenceLineFormat())
    val parts = Files.list(Paths.get(out)).toArray.map(_.toString)
      .filter { p =>
        val name = Paths.get(p).getFileName.toString
        name.startsWith("part-") && !name.endsWith(".crc")
      }.sorted
    assert(parts.length === 3)
    val perPart = parts.map { p =>
      scala.jdk.CollectionConverters.ListHasAsScala(
        Files.readAllLines(Paths.get(p))).asScala.toVector
    }
    // format: <word, count> (trailing space), sorted within each part
    perPart.flatten.foreach(l => assert(l.matches("<[^,]+, \\d+> ")))
    perPart.foreach(ls => assert(ls === ls.sorted))
    // each word in exactly one part
    val words = perPart.map(_.map(_.drop(1).takeWhile(_ != ',')).toSet)
    for (i <- words.indices; j <- words.indices if i < j)
      assert(words(i).intersect(words(j)).isEmpty)
    assert(words.flatten.toSet.size === 7)
  }

  test("Jsonl.readAudited: bad lines preserved verbatim, good rows parse, audit counts both") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl-spec").toString
    val lines = Seq(
      """{"doc_id": 1, "lang": "en", "text": "alpha"}""",
      """{"doc_id": 2, "lang": "de", "text": "beta"""", // truncated: unterminated string
      """{"doc_id": 3, "lang":""",                      // truncated mid-object
      """{"doc_id": 4, "lang": "fr", "text": "gamma"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val rows = graft.sources.Jsonl.readAudited(spark, dir, "doc_id LONG, lang STRING, text STRING")
    // Spark refuses queries whose referenced columns are ONLY the
    // corrupt column (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — keep a data
    // column in the projection
    val bad = rows.where(col("_corrupt").isNotNull).select(col("_corrupt"), col("doc_id"))
      .collect().map(_.getString(0)).toSet
    assert(bad === Set(lines(1), lines(2))) // verbatim, nothing invented
    val good = rows.where(col("_corrupt").isNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(good === Map(1L -> "alpha", 4L -> "gamma"))
    val a = graft.sources.Jsonl.audit(rows).head()
    assert((a.getLong(0), a.getLong(1), a.getLong(2), a.getLong(3)) === ((4L, 2L, 2L, 5L)))
  }

  test("zstd text-codec probe: the verdict agrees with an actual .jsonl.zst round trip") {
    // the codec-availability gate for .jsonl.zst containers (C4/OSCAR
    // increasingly ship them): whichever way THIS runtime answers, the
    // probe must tell the truth — available means a real write+read
    // round trip works and produces .zst part files; unavailable means
    // the write attempt fails rather than silently falling back. The
    // contract never flips silently when the runtime gains the codec.
    import spark.implicits._
    val avail = graft.sources.Jsonl.zstdTextCodecAvailable(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft-zst-spec").toString
    val df = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val attempt = scala.util.Try {
      df.coalesce(1).write.mode("overwrite").option("compression", "zstd").json(tmp)
      val zst = Option(new java.io.File(tmp).listFiles())
        .map(_.count(_.getName.endsWith(".zst"))).getOrElse(0)
      require(zst > 0, s"zstd json write produced no .zst files in $tmp")
      spark.read.schema("doc_id LONG, text STRING").json(tmp)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    }
    if (avail)
      assert(attempt.get === Set((1L, "alpha"), (2L, "beta")))
    else
      assert(attempt.isFailure,
        "probe reported zstd text codec unavailable but the round trip succeeded — register the .jsonl.zst variant")
  }
}
