package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.fs.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}
import graft.streaming.CdcSource
import graft.streaming.CdcStream.RawChange
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.Dataset

/** The fork-free `file:` filesystem ([[graft.fs]]): a stateful CDC run on a
  * local checkpoint starts no process from Hadoop filesystem code, and the
  * in-JVM permission and link-status calls agree with the stock class.
  */
class LocalFsSpec extends SparkSuite {
  import spark.implicits._

  private def t(s: Long) = new Timestamp(1700000000000L + s * 1000)
  private def hadoopConf = spark.sparkContext.hadoopConfiguration
  private val root = new URI("file:///")

  private def initialized(fs: FileSystem): FileSystem = { fs.initialize(root, hadoopConf); fs }
  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val forkFree = initialized(new ForkFreeRawLocalFileSystem)

  /** `jdk.ProcessStart` events raised while `body` runs whose stack passes
    * through Hadoop filesystem code.
    */
  private def hadoopFsProcessStarts(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = Files.createTempFile("localfs", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq.filter { e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.fs")))
      }
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  private def prevImages(feed: String): Dataset[_] =
    Graft.withPrevImages(spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("feed", feed).load().as[RawChange])

  test("session wires the fork-free classes for both Hadoop filesystem APIs") {
    assert(FileContext.getFileContext(root, hadoopConf).getDefaultFileSystem
      .isInstanceOf[ForkFreeLocalFs])
    val fs = FileSystem.newInstance(root, hadoopConf)
    try assert(fs.isInstanceOf[ForkFreeLocalFileSystem]) finally fs.close()
  }

  /** Three micro-batches of [[Graft.withPrevImages]] for one key over a fresh
    * memory feed, checkpointed in `chk`.
    */
  private def threeBatches(feedName: String, chk: String): Unit = {
    val feed = CdcSource.FeedRegistry.get(feedName)
    def add(i: Long): Unit =
      feed.append(RawChange(i, t(i), 7, if (i == 1) "signup" else "purchase", s"""{"k":$i}"""))
    // the first event lands before the start, so batch 0 always holds it and
    // no run adds an empty leading batch
    add(1)
    val q = prevImages(feedName).writeStream.format("memory").queryName(s"${feedName}_out")
      .option("checkpointLocation", chk).outputMode("append").start()
    try {
      q.processAllAvailable()
      (2L to 3L).foreach { i => add(i); q.processAllAvailable() }
    } finally q.stop()
    assert(spark.table(s"${feedName}_out").count() == 3)
    assert(Files.exists(Paths.get(chk, "commits", "2")) && !Files.exists(Paths.get(chk, "commits", "3")),
      "expected exactly three committed batches")
    assert(Files.exists(Paths.get(chk, "state", "0")), "the run wrote no state store")
  }

  private def describe(forks: Seq[RecordedEvent]): String =
    s"${forks.size} process starts from Hadoop FS code, first:\n" +
      forks.headOption.toSeq.flatMap(_.getStackTrace.getFrames.asScala.take(12))
        .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}:${f.getLineNumber}")
        .mkString("\n")

  test("three stateful micro-batches on a local checkpoint start no Hadoop FS process") {
    // the recorder does see the stock class's readlink
    val probe = Files.createTempFile("localfs_probe", ".txt")
    assert(hadoopFsProcessStarts(stock.getFileLinkStatus(new Path(probe.toUri))).nonEmpty,
      "sanity: the stock getFileLinkStatus should start a readlink process")
    val chk = Files.createTempDirectory("localfs_chk").toString
    val forks = hadoopFsProcessStarts(threeBatches("localfs_jfr", chk))
    assert(forks.isEmpty, describe(forks))
  }

  test("the checkpoint holds the same files and modes as under the stock filesystem") {
    def tree(dir: String): Map[String, String] = {
      val root = Paths.get(dir)
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_ != root).map { p =>
        root.relativize(p).toString ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap finally walk.close()
    }
    // session confs reach every Hadoop conf the query builds; the uncached
    // FileSystem keeps the checkpoint root's mkdirs on the stock class too
    val stockConfs = Seq(
      "fs.AbstractFileSystem.file.impl" -> "org.apache.hadoop.fs.local.LocalFs",
      "fs.file.impl" -> "org.apache.hadoop.fs.LocalFileSystem",
      "fs.file.impl.disable.cache" -> "true")
    val stockChk = Files.createTempDirectory("localfs_stock_chk").toString
    stockConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    val stockForks =
      try hadoopFsProcessStarts(threeBatches("localfs_stock", stockChk))
      finally stockConfs.foreach { case (k, _) => spark.conf.unset(k) }
    assert(stockForks.nonEmpty, "sanity: the stock run should start chmod/readlink processes")
    val chk = Files.createTempDirectory("localfs_same_chk").toString
    val forks = hadoopFsProcessStarts(threeBatches("localfs_same", chk))
    assert(forks.isEmpty, describe(forks))
    assert(tree(chk) == tree(stockChk))
  }

  test("setPermission and mkdirs leave the same POSIX modes as the stock class") {
    val dir = Files.createTempDirectory("localfs_perm")
    for (mode <- Seq("600", "644", "700", "755")) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val Seq(a, b) = Seq("stock", "forkfree").map(n => Files.createFile(dir.resolve(s"$n-$mode")))
      stock.setPermission(new Path(a.toUri), perm)
      forkFree.setPermission(new Path(b.toUri), perm)
      assert(Files.getPosixFilePermissions(b) == Files.getPosixFilePermissions(a), mode)
      assert(Files.getPosixFilePermissions(b) == PosixFilePermissions.fromString(perm.toString), mode)
    }
    // directories under the session umask (the checkpoint and state dirs)
    for ((name, fs) <- Seq("stock" -> stock, "forkfree" -> forkFree))
      assert(fs.mkdirs(new Path(dir.resolve(s"$name-dir/a/b").toUri)))
    for (sub <- Seq("", "/a", "/a/b"))
      assert(Files.getPosixFilePermissions(dir.resolve(s"forkfree-dir$sub")) ==
        Files.getPosixFilePermissions(dir.resolve(s"stock-dir$sub")), sub)
  }

  test("getFileLinkStatus is getFileStatus on files and still reports symlinks") {
    val dir = Files.createTempDirectory("localfs_link")
    val file = Files.write(dir.resolve("f.txt"), "x".getBytes)
    val link = Files.createSymbolicLink(dir.resolve("l.txt"), file)
    def shape(s: FileStatus) =
      (s.getPath, s.getLen, s.isDirectory, s.isSymlink, s.getModificationTime, s.getPermission)
    for (p <- Seq(new Path(file.toUri), new Path(file.toString), new Path(dir.toUri))) {
      assert(shape(forkFree.getFileLinkStatus(p)) == shape(forkFree.getFileStatus(p)), p)
      assert(shape(forkFree.getFileLinkStatus(p)) == shape(stock.getFileLinkStatus(p)), p)
    }
    val lp = new Path(link.toString)
    val (ours, theirs) = (forkFree.getFileLinkStatus(lp), stock.getFileLinkStatus(lp))
    assert(ours.isSymlink && theirs.isSymlink)
    assert(ours.getSymlink == theirs.getSymlink)
    intercept[java.io.FileNotFoundException](forkFree.getFileLinkStatus(new Path(dir.resolve("none").toUri)))
  }

  test("restart on the same checkpoint continues previous/changes from the restored state") {
    val feed = CdcSource.FeedRegistry.get("localfs_restart")
    val chk = Files.createTempDirectory("localfs_restart_chk").toString
    val out = Files.createTempDirectory("localfs_restart_out").toString
    def start() = prevImages("localfs_restart").writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk).outputMode("append").start()
    val q1 = start()
    try {
      feed.append(RawChange(1, t(1), 5, "signup", """{"k":1,"n":"a"}"""))
      q1.processAllAvailable()
      feed.append(RawChange(2, t(2), 5, "purchase", """{"k":2,"n":"a"}"""))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      feed.append(RawChange(3, t(3), 5, "view", """{"k":3,"n":"a"}"""))
      q2.processAllAvailable()
    } finally q2.stop()
    val rows = spark.read.parquet(out).orderBy("event_id")
      .select("event_id", "previous", "changes").as[(Long, String, String)].collect().toSeq
    assert(rows == Seq(
      (1L, null, null),
      (2L, """{"k":1,"n":"a"}""", """{"k":1}"""),
      (3L, """{"k":2,"n":"a"}""", """{"k":2}""")), rows)
  }
}
