package graft

import graft.operators.CollectorConfig
import graft.sinks.{CircuitBreaker, EventSink, FailoverSink, ParquetDirSink, RetryPolicy}
import graft.sources.EventEnvelopeAdapter
import graft.streaming.{CommitProtocol, DurableFs}
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** The crash matrix of the collector's file legs, through
  * [[CollectorApp.start]]: a run is cut at one crash point, restarted on
  * the same checkpoint, and the good (primary ∪ fallback) and bad
  * multisets must equal a clean run's. A cut run is a query that failed
  * (or, for the last point, whose checkpoint lost its final commit), so
  * the files are left exactly as a killed process would leave them. */
class SinkCrashSpec extends AnyFunSuite with WallBudget {
  private lazy val spark = TestSpark.spark
  private val cfg = CollectorConfig.testScale

  /** The envelopes as three source files: three micro-batches at one
    * file per trigger. */
  private lazy val src: String = {
    val d = Files.createTempDirectory("crash-src").toString
    EventEnvelopeAdapter.envelopes(spark, TestSpark.Sf).repartition(3)
      .write.mode("overwrite").parquet(d)
    d
  }

  private final class Dirs(name: String) {
    val root = Files.createTempDirectory(s"crash-$name").toString
    val primary = s"$root/good"
    val fallback = s"$root/good-fallback"
    val bad = s"$root/bad"
    val ckpt = s"$root/ckpt"
    /** Forget the checkpoint's last batch commit (and its checksum
      * sidecar), as a crash before that commit would. */
    def dropLastCommit(): Unit = {
      val last = new java.io.File(s"$ckpt/commits").list().filter(_.forall(_.isDigit)).maxBy(_.toLong)
      Files.delete(Paths.get(s"$ckpt/commits/$last"))
      Files.deleteIfExists(Paths.get(s"$ckpt/commits/.$last.crc"))
    }
  }

  private def goodSink(d: Dirs): EventSink =
    new FailoverSink(new ParquetDirSink(d.primary, "good-primary"),
      new ParquetDirSink(d.fallback, "good-fallback"),
      new RetryPolicy(1, 2, maxRetries = 1, seed = 1), new CircuitBreaker(5, 60000), sleeper = _ => ())

  /** Drain the source into `d`'s sinks; the query's failure, if any. */
  private def run(d: Dirs, good: EventSink, bad: EventSink,
      ckpt: Option[String] = None): Option[StreamingQueryException] = {
    val envelopes = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = CollectorApp.start(spark, envelopes, cfg, good, bad, ckpt.getOrElse(d.ckpt),
      Trigger.AvailableNow()).query
    try { q.awaitTermination(); None } catch { case e: StreamingQueryException => Some(e) }
  }

  private def runClean(d: Dirs): Unit =
    assert(run(d, goodSink(d), new ParquetDirSink(d.bad, "bad")).isEmpty)

  /** A leg's rows as sorted JSON lines (binary columns as base64). */
  private def rows(dirs: String*): Seq[String] =
    dirs.filter(p => CommitProtocol.listParquet(p).nonEmpty)
      .flatMap(p => spark.read.parquet(p).toJSON.collect()).sorted

  private def legs(d: Dirs): (Seq[String], Seq[String]) = (rows(d.primary, d.fallback), rows(d.bad))

  /** `d`'s good and bad multisets are `times` copies of the clean run's. */
  private def assertClean(d: Dirs, times: Int = 1): Unit = {
    val (good, bad) = legs(d)
    val (cleanGood, cleanBad) = clean
    val same = good == Seq.fill(times)(cleanGood).flatten.sorted &&
      bad == Seq.fill(times)(cleanBad).flatten.sorted
    assert(same, s"good ${good.size} rows, bad ${bad.size}; " +
      s"clean run × $times: good ${cleanGood.size * times}, bad ${cleanBad.size * times}")
  }

  private lazy val clean: (Seq[String], Seq[String]) = {
    val d = new Dirs("clean")
    runClean(d)
    legs(d)
  }

  private def causedBy(e: Throwable, message: String): Boolean =
    Iterator.iterate(e)(_.getCause).take(20).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains(message)))

  /** `inner`, whose write of batch `at` fails once with a task failure
    * mid-job. */
  private final class FailingTask(inner: EventSink, at: Long) extends EventSink {
    val name: String = inner.name
    private var failed = false
    def write(batch: DataFrame, batchId: Long): Unit =
      if (batchId != at || failed) inner.write(batch, batchId)
      else {
        failed = true
        val boom = udf { (id: Long) =>
          if (TaskContext.get().partitionId() == 0 && id % 7 == 3) throw new RuntimeException("injected task failure")
          true
        }.asNondeterministic()
        inner.write(batch.filter(boom(batch("event_id"))), batchId)
      }
  }

  test("crash matrix: a task failure mid-job, and a killed job's task output left in _temporary") {
    val d = new Dirs("task")
    val failed = run(d, new FailingTask(goodSink(d), at = 1L), new ParquetDirSink(d.bad, "bad"))
    assert(failed.exists(causedBy(_, "injected task failure")), failed)
    // a killed (not aborted) job leaves its committed task output under
    // _temporary/0, which the next job commit would merge into the leg
    val part = new java.io.File(d.primary).listFiles().find(_.getName.endsWith(".parquet")).get
    val task = Paths.get(d.primary, "_temporary", "0", "task_202601010000_0001_m_000000")
    Files.createDirectories(task)
    Files.copy(part.toPath, task.resolve("part-killed.parquet"))
    runClean(d)
    assertClean(d)
  }

  test("crash matrix: after the job commit, before the fence's commit marker") {
    val d = new Dirs("marker")
    // the rename that publishes the bad leg's commit marker of batch 1 fails once
    var thrown = false
    val failing = new RawLocalFileSystem {
      override def rename(src: Path, dst: Path): Boolean =
        if (!thrown && dst.getName == "1" && dst.getParent.getParent.getName == "_commits" &&
            dst.toUri.getPath.startsWith(d.bad)) {
          thrown = true
          throw new java.io.IOException("injected marker failure")
        } else super.rename(src, dst)
    }
    failing.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    val failed = DurableFs.fsOverride.withValue(Some(failing))(
      run(d, goodSink(d), new ParquetDirSink(d.bad, "bad")))
    assert(thrown && failed.exists(causedBy(_, "injected marker failure")), failed)
    runClean(d)
    assertClean(d)
  }

  test("crash matrix: after the fence, before the checkpoint's commit; " +
    "a fresh checkpoint on the same directories loses no batch") {
    val d = new Dirs("ckpt")
    runClean(d)
    d.dropLastCommit()
    runClean(d) // replays the last batch into legs that already hold it
    assertClean(d)
    // a fresh checkpoint restarts its batch ids at 0: nothing is skipped
    assert(run(d, goodSink(d), new ParquetDirSink(d.bad, "bad"), Some(s"${d.root}/ckpt2")).isEmpty)
    assertClean(d, times = 2)
  }

  test("crash matrix: a failover switch between attempts replays to the arm that took the batch") {
    val d = new Dirs("switch")
    Files.write(Paths.get(d.primary), Array[Byte](1)) // the primary is down: every batch fails over
    runClean(d)
    assert(!new java.io.File(d.primary).isDirectory && rows(d.fallback) === clean._1)
    d.dropLastCommit()
    Files.delete(Paths.get(d.primary)) // the primary is back for the replay
    runClean(d)
    assertClean(d)
  }
}
