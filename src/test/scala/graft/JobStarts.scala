package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.Properties

/** Records every Spark job start (submission time and local properties)
  * between construction and [[close]]. */
final class JobStarts(sc: SparkContext) extends SparkListener with AutoCloseable {
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    seen.add(e); ()
  }

  /** Every start so far, after all events posted before this call arrived. */
  private def starts: Seq[SparkListenerJobStart] = {
    org.apache.spark.SparkTestAccess.drainListeners(sc)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  private def starts(key: String, pred: String => Boolean): Seq[SparkListenerJobStart] =
    starts.filter(e => Option(e.properties).flatMap(q => Option(q.getProperty(key))).exists(pred))

  def all: Seq[(Long, Properties)] = starts.map(e => (e.time, e.properties))

  def where(key: String, pred: String => Boolean): Seq[(Long, Properties)] =
    starts(key, pred).map(e => (e.time, e.properties))

  /** The task count, over all its stages, of each job [[where]] selects. */
  def tasksWhere(key: String, pred: String => Boolean): Seq[Int] =
    starts(key, pred).map(_.stageInfos.map(_.numTasks).sum)

  def close(): Unit = sc.removeSparkListener(this)
}
