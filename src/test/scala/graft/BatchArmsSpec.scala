package graft

import graft.streaming.BatchArms
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** JVM-singleton latch a local-mode task counts down (objects are reached
  * statically from task closures, never serialized). */
object ArmsProbe {
  @volatile var jobRunning = new CountDownLatch(1)
}

/** [[BatchArms]]: arms overlap, the first failure cancels the scope's
  * jobs without interrupting threads and is rethrown once every arm has
  * ended, releases always run, and arms inherit the caller's Spark local
  * properties. */
class BatchArmsSpec extends AnyFunSuite with WallBudget {
  private lazy val spark = TestSpark.spark
  private def sc = spark.sparkContext

  test("arms overlap each other and the body; their values come back through join") {
    val (a, b) = (new CountDownLatch(1), new CountDownLatch(1))
    val body = new CountDownLatch(1)
    val (l, r) = BatchArms(spark) { arms =>
      val l = arms.fork("left") { a.countDown(); b.await(30, TimeUnit.SECONDS) && body.await(30, TimeUnit.SECONDS) }
      val r = arms.fork("right") { b.countDown(); a.await(30, TimeUnit.SECONDS) }
      body.countDown()
      (l.join(), r.join())
    }
    assert(l && r, "each arm saw its sibling and the body running")
  }

  test("a failing arm cancels a sibling's long job, waits for a job-free sibling, " +
    "rethrows its own error within seconds and runs the releases") {
    ArmsProbe.jobRunning = new CountDownLatch(1)
    val quietEnded = new AtomicBoolean(false)
    val quietInterrupted = new AtomicBoolean(false)
    val released = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      BatchArms(spark) { arms =>
        arms.release(released.incrementAndGet())
        arms.fork("long job") {
          sc.parallelize(1 to 4, 4).map { x =>
            ArmsProbe.jobRunning.countDown()
            val ctx = org.apache.spark.TaskContext.get()
            val end = System.nanoTime() + 60L * 1000000000L
            while (!ctx.isInterrupted() && System.nanoTime() < end) Thread.sleep(20)
            x
          }.count()
        }
        arms.fork("no job") {
          ArmsProbe.jobRunning.await(30, TimeUnit.SECONDS)
          try Thread.sleep(1500)
          catch { case _: InterruptedException => quietInterrupted.set(true) }
          quietEnded.set(true)
        }
        arms.fork("failing") {
          ArmsProbe.jobRunning.await(30, TimeUnit.SECONDS)
          throw new IllegalStateException("arm down")
        }
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage === "arm down", "the first failure is the one rethrown")
    assert(secs < 20, s"took ${secs}s: the long job was not cancelled")
    assert(e.getSuppressed.exists(_.isInstanceOf[org.apache.spark.SparkException]),
      "the cancelled sibling's error rides along as suppressed")
    assert(quietEnded.get && !quietInterrupted.get,
      "the job-free sibling ran to its end, uninterrupted, before the scope returned")
    assert(released.get === 1)
    // the scope's tag left the caller's thread with it
    assert(!sc.getJobTags().exists(_.startsWith("graft-arms-")))
  }

  test("releases run last-in first-out after every arm ended, on success and on a body failure") {
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def scope(fail: Boolean): Unit = BatchArms(spark) { arms =>
      arms.release(order.add("first registered"))
      arms.release(order.add("last registered"))
      arms.fork("slow") { Thread.sleep(300); order.add("arm ended") }
      if (fail) throw new IllegalArgumentException("body down")
    }
    import scala.jdk.CollectionConverters._
    val expected = Seq("arm ended", "last registered", "first registered")
    scope(fail = false)
    assert(order.asScala.toSeq === expected)
    order.clear()
    intercept[IllegalArgumentException](scope(fail = true))
    assert(order.asScala.toSeq === expected)
  }

  test("arm jobs carry the caller's job group, streaming batch id and the scope's tag; " +
    "the arm's name is their description") {
    val jobs = new JobStarts(sc)
    sc.setJobGroup("arms-group", "caller")
    sc.setLocalProperty("streaming.sql.batchId", "42")
    val tag = try BatchArms(spark) { arms =>
      arms.fork("arm job")(sc.parallelize(1 to 4, 2).count()).join()
      arms.tag
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("streaming.sql.batchId", null)
    }
    val props = try jobs.where("spark.job.description", _ == "arm job").map(_._2)
    finally jobs.close()
    assert(props.nonEmpty)
    props.foreach { p =>
      assert(p.getProperty("spark.jobGroup.id") === "arms-group")
      assert(p.getProperty("streaming.sql.batchId") === "42")
      assert(p.getProperty("spark.job.tags").split(",").contains(tag))
    }
  }
}
