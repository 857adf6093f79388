package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileStatus, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.io.ForklessRawLocalFileSystem
import graft.sources.Csv
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Ev

/** The `file:` binding in `core-site.xml` ([[graft.io.LocalFileSystem]],
  * [[graft.io.LocalFs]]): it resolves from a fresh `Configuration`,
  * matches stock `RawLocalFileSystem` on permissions, link status and
  * the permission, owner and group its statuses report,
  * and starts no child process for the engine's writers and streaming
  * checkpoints.
  */
class LocalFileSystemSpec extends AnyFunSuite with SparkFixture {

  private def initialized(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private def stock = initialized(new RawLocalFileSystem)
  private def forkless = initialized(new ForklessRawLocalFileSystem)

  /** The full st_mode: file type, setuid/setgid/sticky and rwx bits. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int]

  private def fields(s: FileStatus) =
    (s.getPath, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup, if (s.isSymlink) s.getSymlink else null)

  test("a fresh Configuration resolves file: to the graft classes") {
    val conf = new Configuration()
    val fs = FileSystem.newInstance(URI.create("file:///"), conf)
    try {
      assert(fs.getClass === classOf[graft.io.LocalFileSystem])
      assert(fs.asInstanceOf[ChecksumFileSystem].getRawFileSystem.getClass ===
        classOf[ForklessRawLocalFileSystem])
    } finally fs.close()
    assert(FileSystem.getLocal(conf).getRaw.getClass === classOf[ForklessRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass ===
      classOf[graft.io.LocalFs])
    // the session's own conf, which every writer and checkpoint goes through
    val sessionFs = new Path(scratchDir("graft-fs")).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(sessionFs.getClass === classOf[graft.io.LocalFileSystem])
  }

  test("create and mkdirs set the same permission bits as stock") {
    val dir = scratchDir("graft-fs-perm")
    val (a, b) = (stock, forkless)
    for (m <- Seq("644", "640", "700", "755")) {
      val perm = new FsPermission(m)
      for ((fs, side) <- Seq(a -> "stock", b -> "forkless")) {
        fs.create(new Path(s"$dir/$side-$m.f"), perm, true, 4096, 1.toShort, 1L << 20, null).close()
        assert(fs.mkdirs(new Path(s"$dir/$side-$m.d"), perm))
      }
      for (kind <- Seq("f", "d"))
        assert(mode(s"$dir/forkless-$m.$kind") === mode(s"$dir/stock-$m.$kind"), s"$m.$kind")
      assert(b.getFileStatus(new Path(s"$dir/forkless-$m.f")).getPermission ===
        a.getFileStatus(new Path(s"$dir/stock-$m.f")).getPermission)
    }
    // a sticky mode takes the stock path and ends with the same bits
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    for ((fs, side) <- Seq(a -> "stock", b -> "forkless")) {
      fs.mkdirs(new Path(s"$dir/$side-sticky"))
      fs.setPermission(new Path(s"$dir/$side-sticky"), sticky)
    }
    assert(mode(s"$dir/forkless-sticky") === mode(s"$dir/stock-sticky"))
    assert((mode(s"$dir/forkless-sticky") & 0xfff) === Integer.parseInt("1777", 8))
  }

  test("a directory that inherits setgid keeps it, as under chmod") {
    val parent = scratchDir("graft-fs-setgid")
    assert(new ProcessBuilder("chmod", "2775", parent).start().waitFor() === 0)
    val perm = new FsPermission("755")
    for ((fs, side) <- Seq(stock -> "stock", forkless -> "forkless"))
      assert(fs.mkdirs(new Path(s"$parent/$side"), perm))
    assert((mode(s"$parent/stock") & 0xc00) !== 0, "the kernel passes setgid on")
    assert(mode(s"$parent/forkless") === mode(s"$parent/stock"))
  }

  test("getFileLinkStatus matches stock: file, link, dangling, missing") {
    val dir = scratchDir("graft-fs-link")
    val (a, b) = (stock, forkless)
    val file = new Path(s"$dir/file")
    b.create(file).close()
    assert(fields(b.getFileLinkStatus(file)) === fields(b.getFileStatus(file)))
    assert(fields(b.getFileLinkStatus(file)) === fields(a.getFileLinkStatus(file)))

    Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get(s"$dir/file"))
    val link = new Path(s"$dir/link")
    val st = b.getFileLinkStatus(link)
    assert(st.isSymlink)
    assert(st.getSymlink === new Path(s"file:$dir/file"))
    assert(fields(st) === fields(a.getFileLinkStatus(link)))

    Files.createSymbolicLink(Paths.get(s"$dir/dangling"), Paths.get(s"$dir/nothing"))
    val dangling = new Path(s"$dir/dangling")
    assert(b.getFileLinkStatus(dangling).isSymlink)
    assert(fields(b.getFileLinkStatus(dangling)) === fields(a.getFileLinkStatus(dangling)))

    for (fs <- Seq(a, b)) intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(s"$dir/missing")))
  }

  @annotation.nowarn("cat=deprecation") // FileStatus's Writable methods
  private def writableRoundTrip(s: FileStatus): FileStatus = {
    val buf = new java.io.ByteArrayOutputStream()
    s.write(new java.io.DataOutputStream(buf))
    val back = new FileStatus()
    back.readFields(new java.io.DataInputStream(new java.io.ByteArrayInputStream(buf.toByteArray)))
    back
  }

  test("statuses read permission, owner and group as stock does, ls -ld included") {
    val dir = scratchDir("graft-fs-status")
    def chmod(mode: String, p: String): Unit =
      assert(new ProcessBuilder("chmod", mode, p).start().waitFor() === 0, s"chmod $mode $p")
    for ((name, m) <- Seq("f640" -> "640", "f4755" -> "4755", "f000" -> "000")) {
      Files.createFile(Paths.get(s"$dir/$name"))
      chmod(m, s"$dir/$name")
    }
    for ((name, m) <- Seq("d755" -> "755", "d1777" -> "1777", "d2775" -> "2775", "d1700" -> "1700")) {
      Files.createDirectory(Paths.get(s"$dir/$name"))
      chmod(m, s"$dir/$name")
    }
    Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get(s"$dir/f640"))
    val (a, b) = (stock, forkless)
    def owned(s: FileStatus) = (s.getPath, s.getPermission, s.getOwner, s.getGroup)
    def listed(fs: FileSystem) = fs.listStatus(new Path(dir)).map(owned).sortBy(_._1.toString).toSeq
    assert(listed(b).size === 8)
    assert(listed(b) === listed(a))
    for (st <- b.listStatus(new Path(dir)))
      assert(owned(b.getFileStatus(st.getPath)) === owned(a.getFileStatus(st.getPath)), st.getPath)
    def located(fs: FileSystem) = {
      val it = fs.listLocatedStatus(new Path(dir))
      Iterator.continually(it).takeWhile(_.hasNext).map(i => owned(i.next())).toSeq.sortBy(_._1.toString)
    }
    assert(located(b) === located(a))
    assert(b.getFileStatus(new Path(s"$dir/d1777")).getPermission.getStickyBit)
    // a serialized status carries the values too
    assert(owned(writableRoundTrip(b.getFileStatus(new Path(s"$dir/f640")))) ===
      owned(a.getFileStatus(new Path(s"$dir/f640"))))
  }

  test("no Hadoop Shell process on the kv, overwrite, upsert and memo paths") {
    val s = spark
    import s.implicits._
    val dir = scratchDir("graft-fs-jfr")
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val batches = Seq(
      Seq(Ev(0, ts(10, 5), 1, "view", 1.0), Ev(1, ts(10, 40), 2, "click", 1.0)),
      Seq(Ev(2, ts(10, 50), 1, "view", 1.0), Ev(3, ts(11, 10), 3, "view", 1.0)),
      Seq(Ev(4, ts(11, 20), 2, "buy", 1.0)))
    batches.foreach(_.toDF().coalesce(1).write.mode("append").parquet(s"$dir/src"))
    // Shell's class init runs a one-time `setsid` probe; count from after it
    Class.forName(classOf[org.apache.hadoop.util.Shell].getName)

    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      Csv.writeKv(Seq(("a", 1), ("b", 2)).toDF("k", "v"), s"$dir/kv")
      for (v <- Seq(1, 2))
        Seq((1, v), (2, v)).toDF("p", "v").write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic").partitionBy("p").parquet(s"$dir/dyn")
      val events = spark.readStream.schema(batches.head.toDF().schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/src")
      val q = EventStreams.upsertWindowCounts(events, s"$dir/out", s"$dir/chk")
        .trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000), "AvailableNow query should self-terminate")
      finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) === 3)
      // a memo build and hit, each fingerprinting the dir by one listing
      val memo = new SessionMemo[Int, Int]
      assert(Seq(1, 2).map(v => memo.getOrBuild(spark, s"$dir/src", 0)(v)) === Seq(1, 1))
      // listings whose statuses carry permission, owner and group
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listFiles(new Path(dir), true)
      var n = 0
      while (files.hasNext) {
        val f = files.next()
        assert(f.getPermission != null && f.getOwner.nonEmpty && f.getGroup.nonEmpty)
        n += 1
      }
      assert(n > 10, s"$n files listed")
      val top = fs.listLocatedStatus(new Path(dir))
      while (top.hasNext) assert(top.next().getOwner.nonEmpty)
      val st = fs.getFileStatus(new Path(s"$dir/out"))
      assert(st.getPermission != null && st.getOwner.nonEmpty && st.getGroup.nonEmpty)
    } finally rec.stop()
    val jfr = Paths.get(s"$dir/process.jfr")
    rec.dump(jfr)
    rec.close()

    assert(spark.read.parquet(s"$dir/out").count() === 4L)
    assert(spark.read.parquet(s"$dir/dyn").collect().map(_.getInt(0)).toSet === Set(2))
    val forks = RecordingFile.readAllEvents(jfr).asScala.filter { e =>
      e.getStackTrace != null &&
        e.getStackTrace.getFrames.asScala.exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell")
    }
    val byCommand = forks.groupBy(_.getString("command").split(" ").head).map { case (c, es) => c -> es.size }
    assert(forks.isEmpty, s"${forks.size} Shell child processes: $byCommand")
  }
}
