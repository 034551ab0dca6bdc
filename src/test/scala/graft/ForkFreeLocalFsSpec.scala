package graft

import graft.operators.CollectorConfig
import graft.streaming.CommitProtocol
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.UserGroupInformation
import org.scalatest.funsuite.AnyFunSuite

import java.io.FileNotFoundException
import java.net.{HttpURLConnection, URI, URL}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** [[ForkFreeRawLocalFileSystem]] and its checksummed and `FileContext`
  * wrappers: the stock local file system's results without its
  * `chmod`/`readlink` processes. */
class ForkFreeLocalFsSpec extends AnyFunSuite with WallBudget {
  private lazy val spark = TestSpark.spark
  private val Root = URI.create("file:///")

  private def tmp(p: String): java.nio.file.Path = Files.createTempDirectory(p)

  /** Mode bits (sticky included) as the kernel holds them. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def oct(s: String): Int = Integer.parseInt(s, 8)
  private def perm(s: String): FsPermission = new FsPermission(oct(s).toShort)

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(Root, new Configuration()); fs
  }

  /** Creates and mkdirs with default, explicit and sticky permissions
    * under `dir`; the mode of each result, by name. */
  private def permissionsThrough(fs: FileSystem, dir: java.nio.file.Path): Map[String, Int] = {
    def at(n: String) = new Path(dir.resolve(n).toString)
    fs.create(at("file-default"), true).close()
    fs.create(at("file-0700"), perm("700"), true, 4096, 1.toShort, 1L << 20, null).close()
    fs.mkdirs(at("dir-default"), FsPermission.getDirDefault)
    fs.mkdirs(at("dir-0700"), perm("700"))
    fs.mkdirs(at("dir-sticky"))
    // setPermission is where a sticky bit lands (mkdirs drops it)
    fs.setPermission(at("dir-sticky"), perm("1777"))
    fs.setPermission(at("file-default"), perm("644"))
    Files.list(dir).iterator().asScala.map(p => p.getFileName.toString -> mode(p)).toMap
  }

  test("permission bits after create and mkdirs match the stock raw local file system") {
    val stock = permissionsThrough(raw(new RawLocalFileSystem), tmp("perm-stock"))
    val ours = permissionsThrough(raw(new ForkFreeRawLocalFileSystem), tmp("perm-ours"))
    assert(ours === stock)
    assert(ours === Map("file-default" -> oct("644"), "file-0700" -> oct("700"),
      "dir-default" -> oct("755"), "dir-0700" -> oct("700"), "dir-sticky" -> oct("1777")))
  }

  test(".crc sidecars and their modes match the stock checksummed file system, " +
    "through FileSystem and FileContext") {
    def viaFileSystem(fs: FileSystem, dir: java.nio.file.Path): Map[String, Int] = {
      fs.initialize(Root, new Configuration())
      val out = fs.create(new Path(dir.resolve("a/part-0").toString), true)
      out.write(Array[Byte](1, 2, 3)); out.close()
      listing(dir)
    }
    def viaFileContext(impl: String, dir: java.nio.file.Path): Map[String, Int] = {
      val c = new Configuration()
      c.set("fs.AbstractFileSystem.file.impl", impl)
      val fc = FileContext.getFileContext(Root, c)
      fc.mkdir(new Path(dir.resolve("logs").toString), FsPermission.getDirDefault, true)
      val out = fc.create(new Path(dir.resolve("logs/.0.tmp").toString),
        java.util.EnumSet.of(CreateFlag.CREATE))
      out.write(Array[Byte](4, 5)); out.close()
      fc.rename(new Path(dir.resolve("logs/.0.tmp").toString), new Path(dir.resolve("logs/0").toString))
      listing(dir)
    }
    val fsStock = viaFileSystem(new LocalFileSystem, tmp("crc-stock"))
    val fsOurs = viaFileSystem(new ForkFreeLocalFileSystem, tmp("crc-ours"))
    assert(fsOurs === fsStock)
    assert(fsOurs.keySet === Set("a", "a/part-0", "a/.part-0.crc"))
    val fcStock = viaFileContext(classOf[LocalFs].getName, tmp("fc-stock"))
    val fcOurs = viaFileContext(classOf[ForkFreeLocalFs].getName, tmp("fc-ours"))
    assert(fcOurs === fcStock)
    assert(fcOurs.keySet === Set("logs", "logs/0", "logs/.0.crc"))
  }

  /** Every file and dir under `dir`, relative, with its mode. */
  private def listing(dir: java.nio.file.Path): Map[String, Int] =
    Files.walk(dir).iterator().asScala.filter(_ != dir)
      .map(p => dir.relativize(p).toString -> mode(p)).toMap

  test("getFileLinkStatus matches the stock one for a file, a dir, a symlink, " +
    "a dangling symlink and a missing path") {
    val dir = tmp("links")
    Files.write(dir.resolve("file"), "x".getBytes)
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val stock = raw(new RawLocalFileSystem)
    val ours = raw(new ForkFreeRawLocalFileSystem)
    def shape(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime)
    def status(fs: RawLocalFileSystem, p: Path) =
      try Right(shape(fs.getFileLinkStatus(p))) catch { case e: FileNotFoundException => Left(e.getClass) }
    // plain and scheme-qualified paths: the stock class treats them differently
    for (n <- Seq("file", "dir", "link", "dangling", "missing");
         p <- Seq(new Path(dir.resolve(n).toString), new Path(dir.resolve(n).toUri))) {
      assert(status(ours, p) === status(stock, p), s"getFileLinkStatus($p)")
    }
    assert(status(ours, new Path(dir.resolve("link").toString)).exists(_._4))
    assert(status(ours, new Path(dir.resolve("dangling").toString)).exists(_._4))
    assert(status(ours, new Path(dir.resolve("missing").toString)) ===
      Left(classOf[FileNotFoundException]))
  }

  test("file: resolves to the fork-free classes through FileSystem and FileContext " +
    "in a GraftSession, also after the FileSystem cache was seeded with the stock class") {
    val conf = spark.sparkContext.hadoopConfiguration
    def resolved(): (Class[_], Class[_]) = (
      new Path("file:/tmp").getFileSystem(conf).getClass,
      FileContext.getFileContext(Root, conf).getDefaultFileSystem.getClass)
    val expected = (classOf[ForkFreeLocalFileSystem], classOf[ForkFreeLocalFs])
    assert(resolved() === expected)
    // the cache keys on (scheme, authority, user): seed it for a fresh user
    // with the class a plain Configuration picks, then resolve as that user
    UserGroupInformation.createRemoteUser("graft-seeded").doAs(
      new java.security.PrivilegedExceptionAction[Unit] {
        def run(): Unit = {
          val seeded = FileSystem.get(Root, new Configuration())
          assert(!seeded.isInstanceOf[ForkFreeLocalFileSystem])
          assert(FileSystem.get(Root, new Configuration()) eq seeded)
          assert(resolved() === expected)
        }
      })
  }

  /** Commands (first word) of the processes started while `body` ran, as
    * JFR `jdk.ProcessStart` events saw them. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => Paths.get(e.getString("command").trim.split("\\s+")(0)).getFileName.toString)
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  private def pixel(port: Int, i: Int): Int = {
    val c = new URL(s"http://127.0.0.1:$port/i?e=pv&aid=fork$i").openConnection()
      .asInstanceOf[HttpURLConnection]
    try c.getResponseCode finally c.disconnect()
  }

  test("a collector micro-batch and a durable store commit start no chmod, readlink, ls or stat") {
    val base = tmp("fork-free")
    def d(n: String) = base.resolve(n).toString
    val (server, running) = CollectorMain.wireHttp(spark, d("spool"), d("good"), d("bad"),
      d("ckpt"), org.apache.spark.sql.streaming.Trigger.ProcessingTime(200L),
      CollectorConfig.testScale)
    // rows of the finished micro-batches: the query stops only after the
    // batch holding the last request ended, never in the middle of a write
    def rowsDone: Long = running.query.recentProgress.map(_.numInputRows).sum
    def awaitRows(n: Long): Unit = {
      val deadline = System.nanoTime() + 60000000000L
      while (rowsDone < n && System.nanoTime() < deadline) Thread.sleep(20)
      assert(rowsDone >= n, s"the micro-batches took $rowsDone of $n requests")
    }
    val started = try {
      // the first batch pays the one-off set-up (query start, first log files)
      assert(pixel(server.port, 0) === 200)
      awaitRows(1)
      processStarts {
        (1 to 5).foreach(i => assert(pixel(server.port, i) === 200))
        awaitRows(6)
        val store = d("store")
        CommitProtocol(store, d("store-commits"), 0L).commit {
          spark.range(10).write.mode("append").parquet(store)
        }
      }
    } finally { running.query.stop(); server.stop() }
    assert(spark.read.parquet(d("good")).count() === 6L)
    assert(CommitProtocol(d("store"), d("store-commits"), 0L).beginOrRecover())
    val forks = started.filter(Set("chmod", "readlink", "ls", "stat"))
    assert(forks.isEmpty, s"processes started: ${started.groupBy(identity).map { case (k, v) => s"$k x${v.size}" }}")
  }
}
