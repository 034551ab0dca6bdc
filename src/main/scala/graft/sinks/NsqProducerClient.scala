package graft.sinks

import graft.sinks.ClientSinks.NsqClient

/** K7's REAL SDK binding — [[ClientSinks.NsqClient]] over the Snowplow
  * NSQ java client, bound by REFLECTION like [[AwsKinesisClient]]: the
  * module compiles and ships without the `nsq-java-client` jar (this
  * sandbox has none) yet issues the genuine `produceMulti` wire call
  * wherever the client is on the classpath.
  *
  * Wire shape per the reference `NsqSink.scala:31-44`: one long-lived
  * `new NSQProducer().addAddress(host, port).start()` per sink, and
  * each chunk delivered as `producer.produceMulti(topic, javaList)` —
  * no key, no per-record status; any failure throws and the micro-batch
  * replays from the checkpoint ([[ClientSinks.nsq]] adds no
  * retry, matching the reference).
  */
object NsqProducerClient {

  private val ProducerClass = "com.snowplowanalytics.client.nsq.NSQProducer"

  /** Is the NSQ java client on this classpath? */
  def available(): Boolean =
    try { Class.forName(ProducerClass); true }
    catch { case _: ClassNotFoundException => false }

  /** Build the real client; throws ClassNotFoundException when the SDK is
    * absent (call [[available]] first, or inject a test client instead).
    * The presence check runs HERE — the factory
    * `() => NsqProducerClient(host, port)` is invoked per-partition on
    * the executor, so a missing client jar kills the task at factory
    * time; the producer itself still builds lazily on first use so the
    * returned object serializes cleanly. */
  def apply(host: String, port: Int): NsqClient = {
    Class.forName(ProducerClass)
    new NsqClient {
      // one started producer per sink client (= per executor task),
      // held in a VAR so close() can release it without constructing one
      @transient private var created: AnyRef = _
      private def producer: AnyRef = {
        if (created == null) {
          val cls = Class.forName(ProducerClass)
          val p = cls.getDeclaredConstructor().newInstance().asInstanceOf[AnyRef]
          val withAddr = cls.getMethod("addAddress", classOf[String], Integer.TYPE)
            .invoke(p, host, Int.box(port))
          created = withAddr.getClass.getMethod("start").invoke(withAddr)
        }
        created
      }

      /** `NSQProducer.shutdown()` — releases the connection pool (r12). */
      override def close(): Unit = {
        val p = created
        created = null
        if (p != null)
          try p.getClass.getMethod("shutdown").invoke(p)
          catch { case scala.util.control.NonFatal(_) => () }
      }

      def produceMulti(topic: String, messages: Seq[Array[Byte]]): Unit = {
        val jList = scala.jdk.CollectionConverters.SeqHasAsJava(messages).asJava
        producer.getClass.getMethods
          .find(m => m.getName == "produceMulti" && m.getParameterCount == 2 &&
            m.getParameterTypes()(0) == classOf[String])
          .getOrElse(throw new NoSuchMethodException("produceMulti(String, List)"))
          .invoke(producer, topic, jList)
        ()
      }
    }
  }
}
