package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LocalFs
import graft.streaming.EventStreams

/** `sources.LocalFs` against Hadoop's `RawLocalFileSystem` on the same
  * inputs, and a guard that a stream and a parquet write start no
  * `chmod`/`readlink`/`ls`/`stat` process. */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def initialized(fs: RawLocalFileSystem, umask: String): RawLocalFileSystem = {
    val conf = new Configuration(false)
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Full mode bits, sticky/setuid/setgid included. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  test("create, mkdirs and setPermission leave the same mode bits as RawLocalFileSystem") {
    val root = Files.createTempDirectory("graft-localfs-perm")
    def tree(name: String, fs: String => RawLocalFileSystem): Map[String, Int] =
      (for (umask <- Seq("022", "077"); perm <- Seq("644", "755", "700")) yield {
        val f = fs(umask)
        val base = root.resolve(s"$name/$umask-$perm")
        val p = new FsPermission(octal(perm).toShort)
        assert(f.mkdirs(new Path(base.resolve("dir").toString), p))
        f.create(new Path(base.resolve("sub/file").toString), p, true, 4096, 1.toShort, 1L << 20, null)
          .close()
        f.create(new Path(base.resolve("set").toString)).close()
        f.setPermission(new Path(base.resolve("set").toString), p)
        Seq("", "dir", "sub", "sub/file", "set").map { rel =>
          s"$umask-$perm/$rel" -> mode(base.resolve(rel))
        }
      }).flatten.toMap
    val want = tree("raw", initialized(new RawLocalFileSystem, _))
    val got = tree("graft", initialized(new LocalFs, _))
    assert(got === want)
    assert(got("022-644/sub/file") === octal("644") && got("077-755/dir") === octal("700"))
    // the sticky bit is Hadoop's own chmod
    val sticky = new FsPermission(octal("1777").toShort)
    Seq("raw" -> initialized(new RawLocalFileSystem, "022"), "graft" -> initialized(new LocalFs, "022"))
      .foreach { case (name, f) => f.setPermission(new Path(root.resolve(name).toString), sticky) }
    assert(mode(root.resolve("graft")) === octal("1777"))
    assert(mode(root.resolve("graft")) === mode(root.resolve("raw")))
  }

  test("getFileLinkStatus matches RawLocalFileSystem: files, dirs, missing paths, symlinks") {
    val root = Files.createTempDirectory("graft-localfs-link")
    val file = Files.write(root.resolve("file"), "xyz".getBytes("UTF-8"))
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val missing = root.resolve("missing")
    val raw = initialized(new RawLocalFileSystem, "022")
    val ours = initialized(new LocalFs, "022")
    def describe(fs: FileSystem, p: Path): Either[String, Seq[Any]] =
      try {
        val s = fs.getFileLinkStatus(p)
        Right(Seq(s.getPath, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else None,
          s.getLen, s.getModificationTime, s.getPermission, s.getOwner, s.getGroup))
      } catch { case e: FileNotFoundException => Left(e.getClass.getName) }
    for (p <- Seq(file, dir, link, dangling, missing)) {
      val bare = new Path(p.toString)
      for (form <- Seq(bare, raw.makeQualified(bare)))
        assert(describe(ours, form) === describe(raw, form), form)
    }
    assert(describe(ours, new Path(missing.toString)).isLeft)
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(ours.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
  }

  private def ts(minute: Int) = new Timestamp(1704067200000L + minute * 60000L)

  /** Two one-file event drops, so the stream runs two micro-batches
    * of a windowed (stateful) aggregation. */
  private lazy val eventDrops: String = {
    val dir = Files.createTempDirectory("graft-localfs-src").toString
    val df = Seq((1L, ts(5), 100L, "click", 1.0, ""), (2L, ts(30), 100L, "view", 2.0, ""),
      (3L, ts(65), 200L, "click", 4.0, ""), (4L, ts(125), 200L, "view", 8.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    df.where($"event_id" <= 2).coalesce(1).write.parquet(s"$dir/b0")
    df.where($"event_id" > 2).coalesce(1).write.parquet(s"$dir/b1")
    s"$dir/{b0,b1}"
  }

  /** The commands of the processes this JVM started while `body` ran,
    * from a JFR recording of `jdk.ProcessStart`. */
  private def processesDuring(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    } finally {
      rec.close()
      Files.delete(file)
    }
  }

  private val Forks = Set("chmod", "readlink", "ls", "stat")
  private def forks(commands: Seq[String]): Seq[String] =
    commands.filter(c => Forks(c.trim.split("\\s+").head.split('/').last))

  /** A stateful stream to a memory sink, then a parquet write. */
  private def streamAndWrite(ss: SparkSession, name: String): Unit = {
    val rows = EventStreams.runToMemory(ss,
      EventStreams.tumblingCounts(EventStreams.readEventStream(ss, eventDrops)), name).collect()
    assert(rows.map(_.getLong(2)).sum === 4L)
    ss.range(10).write.parquet(Files.createTempDirectory("graft-localfs-out").resolve("p").toString)
  }

  /** Runs `body` as if the SparkContext had been built without
    * GraftSession's keys: FileContext then opens Hadoop's own local
    * filesystem for any session that does not set the key itself.
    * (`FileSystem` instances are cached per scheme, so `fs.file.impl`
    * cannot be undone this way; a parquet write keeps LocalFs.) */
  private def withoutGraftKeys[T](body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration // every session's newHadoopConf() base
    val before = conf.get(LocalFs.ContextKey)
    conf.set(LocalFs.ContextKey, "org.apache.hadoop.fs.local.LocalFs")
    try body finally conf.set(LocalFs.ContextKey, before)
  }

  test("fork guard: a stream and a parquet write start no chmod/readlink/ls/stat process") {
    eventDrops
    val onTestSpark = processesDuring(streamAndWrite(spark, "localfs_guard_test"))
    assert(forks(onTestSpark).isEmpty, onTestSpark.take(5))
    val onStreamSession = withoutGraftKeys(processesDuring(
      streamAndWrite(SparkEntry.streamSession(spark), "localfs_guard_stream")))
    assert(forks(onStreamSession).isEmpty, onStreamSession.take(5))
    // the guard sees the forks: the same stream on Hadoop's LocalFs makes them
    val onHadoop = withoutGraftKeys(processesDuring(streamAndWrite(spark, "localfs_guard_hadoop")))
    assert(forks(onHadoop).exists(_.startsWith("readlink")), onHadoop.take(5))
  }

  test("a checkpoint written through LocalFs holds the same files as through Hadoop's LocalFs") {
    def checkpoint(ss: SparkSession, name: String): Set[String] = {
      val cp = Files.createTempDirectory("graft-localfs-cp")
      val q = EventStreams.tumblingCounts(EventStreams.readEventStream(ss, eventDrops))
        .writeStream.format("memory").queryName(name).outputMode(OutputMode.Complete())
        .option("checkpointLocation", cp.toString).start()
      try q.processAllAvailable() finally q.stop()
      ss.catalog.dropTempView(name)
      Files.walk(cp).iterator.asScala.filter(_ != cp).map(p => cp.relativize(p).toString).toSet
    }
    val ours = checkpoint(spark, "localfs_cp_graft")
    val hadoops = withoutGraftKeys(checkpoint(spark, "localfs_cp_hadoop"))
    assert(ours === hadoops)
    assert(ours.exists(_.endsWith(".delta.crc")) && ours.contains("commits/1") && ours.contains("offsets/.1.crc"),
      ours.toSeq.sorted)
  }
}
