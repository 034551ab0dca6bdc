package graft.sinks

import graft.sinks.ClientSinks.{KinesisClient, OutRecord}

/** K1's REAL SDK binding — [[ClientSinks.KinesisClient]] over the AWS v2
  * Kinesis SDK, bound by REFLECTION so this module compiles and ships in
  * environments without the SDK jars (this sandbox has none) yet runs the
  * genuine `PutRecordsRequest` wire call wherever
  * `software.amazon.awssdk:kinesis` is on the classpath.
  *
  * Why reflection instead of a compile-time dependency: the build may not
  * add libraries (offline resolver), and an optional-dependency source
  * set would silently rot. The reflective body IS the honesty check the
  * injected-client test layer defers: it names the exact SDK classes and
  * calls (`KinesisClient.builder().build()`,
  * `putRecords(PutRecordsRequest)` with per-record `Data`/`PartitionKey`,
  * response `Records[i].ErrorCode`) that the reference sink issues
  * (`KinesisSink.scala:157-181` — multiPut + per-record error codes).
  *
  * Error semantics match the trait contract: an index-aligned
  * `Seq[Option[String]]`, `None` = stored, `Some(code)` = retry this
  * record ([[ClientSinks.kinesis]] then resends only the
  * flagged subset). A missing SDK surfaces at FACTORY time
  * ([[available]] / `ClassNotFoundException`), never mid-batch.
  */
object AwsKinesisClient {

  private val BuilderClass = "software.amazon.awssdk.services.kinesis.KinesisClient"
  private val RequestClass = "software.amazon.awssdk.services.kinesis.model.PutRecordsRequest"
  private val EntryClass = "software.amazon.awssdk.services.kinesis.model.PutRecordsRequestEntry"
  private val BytesClass = "software.amazon.awssdk.core.SdkBytes"

  /** Is the AWS v2 Kinesis SDK on this classpath? */
  def available(): Boolean =
    try { Class.forName(BuilderClass); true }
    catch { case _: ClassNotFoundException => false }

  /** Build the real client; throws ClassNotFoundException when the SDK is
    * absent (call [[available]] first, or inject a test client instead).
    * The presence check runs HERE — the factory `() => AwsKinesisClient()`
    * is invoked per-partition on the executor, so a missing SDK kills the
    * task before any record is attempted, making the factory-time claim
    * above literally true (the SDK client itself still builds lazily on
    * first use so the returned object serializes cleanly). */
  def apply(): KinesisClient = apply(AwsCredentials.DefaultChain)

  /** R11: the configured credentials mode (`aws { accessKey, secretKey }`,
    * reference `KinesisSink.scala:509-521` passes the resolved provider
    * into `KinesisClient.builder().credentialsProvider(...)`) rides into
    * the builder the same way, along with the sink's `region` and any
    * explicit `customEndpoint`. */
  def apply(creds: AwsCredentials.Mode,
      region: Option[String] = None,
      endpoint: Option[String] = None): KinesisClient = {
    Class.forName(BuilderClass)
    new KinesisClient {
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
      AwsCredentials.applyEndpoint(builder, endpoint)
      builder.getClass.getMethod("build").invoke(builder)
    }

    def putRecords(stream: String, records: Seq[OutRecord]): Seq[Option[String]] = {
      val cl = sdk.getClass.getClassLoader
      val sdkBytes = Class.forName(BytesClass, true, cl)
      val fromBytes = sdkBytes.getMethod("fromByteArray", classOf[Array[Byte]])
      def entry(r: OutRecord): AnyRef = {
        val b = Class.forName(EntryClass, true, cl).getMethod("builder").invoke(null)
        b.getClass.getMethod("data", sdkBytes)
          .invoke(b, fromBytes.invoke(null, r.payload))
        b.getClass.getMethod("partitionKey", classOf[String]).invoke(b, r.key)
        b.getClass.getMethod("build").invoke(b)
      }
      val reqB = Class.forName(RequestClass, true, cl).getMethod("builder").invoke(null)
      reqB.getClass.getMethod("streamName", classOf[String]).invoke(reqB, stream)
      reqB.getClass.getMethod("records", classOf[java.util.Collection[_]])
        .invoke(reqB, scala.jdk.CollectionConverters.SeqHasAsJava(records.map(entry)).asJava)
      val req = reqB.getClass.getMethod("build").invoke(reqB)
      val resp = sdk.getClass.getMethods
        .find(m => m.getName == "putRecords" && m.getParameterCount == 1 &&
          m.getParameterTypes()(0).getName == RequestClass)
        .getOrElse(throw new NoSuchMethodException("putRecords(PutRecordsRequest)"))
        .invoke(sdk, req)
      val out = resp.getClass.getMethod("records").invoke(resp)
        .asInstanceOf[java.util.List[AnyRef]]
      // index-aligned per-record error codes, the trait's contract
      scala.jdk.CollectionConverters.ListHasAsScala(out).asScala.toSeq.map { rec =>
        Option(rec.getClass.getMethod("errorCode").invoke(rec)).map(_.toString)
      }
    }
  }
  }
}
