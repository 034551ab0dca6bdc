package graft.sinks

import graft.sinks.ClientSinks.{SqsClient, SqsMessage}

/** K2's REAL SDK binding — [[ClientSinks.SqsClient]] over the AWS v2 SQS
  * SDK, bound by REFLECTION for the same reason as [[AwsKinesisClient]]:
  * the module compiles and ships without the SDK jars (this sandbox has
  * none) yet issues the genuine `SendMessageBatchRequest` wire call
  * wherever `software.amazon.awssdk:sqs` is on the classpath. The
  * reference's primary production pairing is Kinesis with SQS failover
  * (`KinesisSink.scala:281-325` builds the SQS secondary), so both
  * bindings must be concrete for a real deployment.
  *
  * Wire shape per the reference `SqsSink.scala:168-214`: one
  * `sendMessageBatch` of ≤ 10 entries, each with the base64 body and the
  * original partition key in the `kinesisKey` STRING message attribute;
  * per-entry failures come back in the response's `Failed` list keyed by
  * the entry id. This binding assigns ids "0".."9" (the chunk index) and
  * maps them back to an index-aligned `Seq[Option[String]]` — `None` =
  * stored, `Some(code)` = resend ([[ClientSinks.sqs]] retries
  * only that subset). A missing SDK surfaces at FACTORY time
  * ([[available]] / `ClassNotFoundException`), never mid-batch.
  */
object AwsSqsClient {

  private val BuilderClass = "software.amazon.awssdk.services.sqs.SqsClient"
  private val RequestClass = "software.amazon.awssdk.services.sqs.model.SendMessageBatchRequest"
  private val EntryClass = "software.amazon.awssdk.services.sqs.model.SendMessageBatchRequestEntry"
  private val AttrClass = "software.amazon.awssdk.services.sqs.model.MessageAttributeValue"

  /** Is the AWS v2 SQS SDK on this classpath? */
  def available(): Boolean =
    try { Class.forName(BuilderClass); true }
    catch { case _: ClassNotFoundException => false }

  /** Build the real client; throws ClassNotFoundException when the SDK is
    * absent (call [[available]] first, or inject a test client instead).
    * The presence check runs HERE — the factory `() => AwsSqsClient()` is
    * invoked per-partition on the executor, so a missing SDK kills the
    * task at factory time (before any batch), as the Scaladoc above
    * claims; the SDK client itself still builds lazily on first use so
    * the returned object serializes cleanly. */
  def apply(): SqsClient = apply(AwsCredentials.DefaultChain)

  /** R11: the configured credentials mode (`aws { accessKey, secretKey }`
    * — the reference's SQS binding resolves the same AWSConfig through
    * `credentialsProvider(...)` on the builder), plus the sink's region. */
  def apply(creds: AwsCredentials.Mode,
      region: Option[String] = None): SqsClient = {
    Class.forName(BuilderClass)
    new SqsClient {
    // one SDK client per sink client (= per executor task), lazily so the
    // closure serializes without touching SDK classes on the driver
    // held in a VAR so close() can release it without constructing one
    @transient private var created: AnyRef = _
    private def sdk: AnyRef = {
      if (created == null) created = buildSdk()
      created
    }

    /** `SdkAutoCloseable.close()` — releases the HTTP client pool (r12). */
    override def close(): Unit = {
      val c = created
      created = null
      if (c != null)
        try c.getClass.getMethod("close").invoke(c)
        catch { case scala.util.control.NonFatal(_) => () }
    }

    private def buildSdk(): AnyRef = {
      val builder = Class.forName(BuilderClass).getMethod("builder").invoke(null)
      AwsCredentials.applyTo(builder, creds)
      AwsCredentials.applyRegion(builder, region)
      builder.getClass.getMethod("build").invoke(builder)
    }

    def sendMessageBatch(queue: String, messages: Seq[SqsMessage]): Seq[Option[String]] = {
      val cl = sdk.getClass.getClassLoader
      val attrCls = Class.forName(AttrClass, true, cl)
      def kinesisKeyAttr(key: String): AnyRef = {
        val b = attrCls.getMethod("builder").invoke(null)
        b.getClass.getMethod("dataType", classOf[String]).invoke(b, "String")
        b.getClass.getMethod("stringValue", classOf[String]).invoke(b, key)
        b.getClass.getMethod("build").invoke(b)
      }
      def entry(i: Int, m: SqsMessage): AnyRef = {
        val b = Class.forName(EntryClass, true, cl).getMethod("builder").invoke(null)
        b.getClass.getMethod("id", classOf[String]).invoke(b, i.toString)
        b.getClass.getMethod("messageBody", classOf[String]).invoke(b, m.body)
        b.getClass.getMethod("messageAttributes", classOf[java.util.Map[_, _]])
          .invoke(b, scala.jdk.CollectionConverters.MapHasAsJava(
            Map("kinesisKey" -> kinesisKeyAttr(m.kinesisKey))).asJava)
        b.getClass.getMethod("build").invoke(b)
      }
      val reqB = Class.forName(RequestClass, true, cl).getMethod("builder").invoke(null)
      reqB.getClass.getMethod("queueUrl", classOf[String]).invoke(reqB, queue)
      reqB.getClass.getMethod("entries", classOf[java.util.Collection[_]])
        .invoke(reqB, scala.jdk.CollectionConverters.SeqHasAsJava(
          messages.zipWithIndex.map { case (m, i) => entry(i, m) }).asJava)
      val req = reqB.getClass.getMethod("build").invoke(reqB)
      val resp = sdk.getClass.getMethods
        .find(m => m.getName == "sendMessageBatch" && m.getParameterCount == 1 &&
          m.getParameterTypes()(0).getName == RequestClass)
        .getOrElse(throw new NoSuchMethodException("sendMessageBatch(SendMessageBatchRequest)"))
        .invoke(sdk, req)
      // failed() entries carry (id, code); everything else stored
      val failed = resp.getClass.getMethod("failed").invoke(resp)
        .asInstanceOf[java.util.List[AnyRef]]
      val codeById = scala.jdk.CollectionConverters.ListHasAsScala(failed).asScala.map { f =>
        f.getClass.getMethod("id").invoke(f).toString ->
          String.valueOf(f.getClass.getMethod("code").invoke(f))
      }.toMap
      messages.indices.map(i => codeById.get(i.toString))
    }
  }
  }
}
