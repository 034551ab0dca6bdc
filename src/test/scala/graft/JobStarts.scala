package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.Properties

/** Records every Spark job start (submission time and local properties)
  * between construction and [[close]]. */
final class JobStarts(sc: SparkContext) extends SparkListener with AutoCloseable {
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Properties)]()
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    seen.add((e.time, e.properties)); ()
  }

  /** Every start so far, after all events posted before this call arrived. */
  def all: Seq[(Long, Properties)] = {
    org.apache.spark.SparkTestAccess.drainListeners(sc)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  def where(key: String, pred: String => Boolean): Seq[(Long, Properties)] =
    all.filter { case (_, p) => Option(p).flatMap(q => Option(q.getProperty(key))).exists(pred) }

  def close(): Unit = sc.removeSparkListener(this)
}
