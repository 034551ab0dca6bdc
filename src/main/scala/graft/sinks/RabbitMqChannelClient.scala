package graft.sinks

import graft.sinks.ClientSinks.RabbitClient

/** K8's REAL SDK binding — [[ClientSinks.RabbitClient]] over the
  * `com.rabbitmq:amqp-client` `Channel`, bound by REFLECTION like
  * [[AwsKinesisClient]]: the module compiles and ships without the AMQP
  * jar (this sandbox has none) yet issues the genuine `basicPublish`
  * wire call wherever the client is on the classpath.
  *
  * Wire shape per the reference `RabbitMQSink.scala:36-66,:69-81`: a
  * `ConnectionFactory` connection and one `Channel`, the exchange
  * verified up front with `exchangeDeclarePassive` (the reference's
  * `init` fails fast on a missing exchange), and each event published as
  * `channel.basicPublish(exchange, "", null, bytes)` — routingKey always
  * empty, no publisher confirms; retry/backoff lives in
  * [[ClientSinks.rabbit]] (bounded attempts, the declared
  * §7.4.4 divergence from the reference's retry-forever).
  */
object RabbitMqChannelClient {

  private val FactoryClass = "com.rabbitmq.client.ConnectionFactory"
  private val PropsClass = "com.rabbitmq.client.AMQP$BasicProperties"

  /** Is the RabbitMQ amqp-client on this classpath? */
  def available(): Boolean =
    try { Class.forName(FactoryClass); true }
    catch { case _: ClassNotFoundException => false }

  /** Build the real client; throws ClassNotFoundException when the SDK is
    * absent (call [[available]] first, or inject a test client instead).
    * The presence check runs HERE — the factory
    * `() => RabbitMqChannelClient(host, port, exchange)` is invoked
    * per-partition on the executor, so a missing jar kills the task at
    * factory time; the connection itself still opens lazily on first use
    * so the returned object serializes cleanly. The passive exchange
    * check runs with the lazy connect — the first publish of a task
    * fails fast on a missing exchange, mirroring the reference's init. */
  def apply(host: String, port: Int, verifyExchange: Option[String] = None): RabbitClient =
    apply(host, port, verifyExchange, "guest", "guest", "/")

  /** R11: the full broker connection the reference's config carries
    * (`model.scala:163-173` — username/password/virtualHost alongside
    * host/port), applied via the ConnectionFactory setters. */
  def apply(host: String, port: Int, verifyExchange: Option[String],
      username: String, password: String, virtualHost: String): RabbitClient = {
    Class.forName(FactoryClass)
    new RabbitClient {
      // one connection+channel per sink client (= per executor task),
      // held in a VAR so close() can release it without constructing one
      @transient private var created: AnyRef = _
      private def channel: AnyRef = {
        if (created == null) created = buildChannel()
        created
      }
      private def buildChannel(): AnyRef = {
        val cls = Class.forName(FactoryClass)
        val cf = cls.getDeclaredConstructor().newInstance().asInstanceOf[AnyRef]
        cls.getMethod("setHost", classOf[String]).invoke(cf, host)
        cls.getMethod("setPort", Integer.TYPE).invoke(cf, Int.box(port))
        cls.getMethod("setUsername", classOf[String]).invoke(cf, username)
        cls.getMethod("setPassword", classOf[String]).invoke(cf, password)
        cls.getMethod("setVirtualHost", classOf[String]).invoke(cf, virtualHost)
        val conn = cls.getMethod("newConnection").invoke(cf)
        val ch = conn.getClass.getMethod("createChannel").invoke(conn)
        verifyExchange.foreach { ex =>
          ch.getClass.getMethod("exchangeDeclarePassive", classOf[String]).invoke(ch, ex)
        }
        ch
      }

      /** Close the channel AND its connection (socket + consumer
        * threads) — `Channel.getConnection.close()` (r12). */
      override def close(): Unit = {
        val ch = created
        created = null
        if (ch != null)
          try {
            val conn = ch.getClass.getMethod("getConnection").invoke(ch)
            conn.getClass.getMethod("close").invoke(conn)
          } catch { case scala.util.control.NonFatal(_) => () }
      }

      def basicPublish(exchange: String, routingKey: String, body: Array[Byte]): Unit = {
        val propsCls = Class.forName(PropsClass, true, channel.getClass.getClassLoader)
        channel.getClass.getMethods
          .find(m => m.getName == "basicPublish" && m.getParameterCount == 4 &&
            m.getParameterTypes()(2) == propsCls)
          .getOrElse(throw new NoSuchMethodException(
            "basicPublish(String, String, BasicProperties, byte[])"))
          .invoke(channel, exchange, routingKey, null, body)
        ()
      }
    }
  }
}
