package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.thrift.protocol.{TBinaryProtocol, TField, TList, TStruct, TType}
import org.apache.thrift.transport.TMemoryBuffer
import scala.reflect.runtime.universe.TypeTag

/** The 14-field CollectorPayload record (SURVEY §1.2). */
final case class PayloadRecord(
    schema: String,
    ipAddress: String,
    timestamp: Long,
    encoding: String,
    collector: String,
    userAgent: String,
    refererUri: String,
    path: String,
    querystring: String,
    body: String,
    headers: Seq[String],
    contentType: String,
    hostname: String,
    networkUserId: String)

/** One serialized payload: partition key + thrift bytes (the wire shape the
  * reference hands every sink — `Sink.scala:34`). */
final case class WirePayload(event_id: Long, partition_key: String, thrift: Array[Byte])

/** One SizeViolation bad row (reference `SplitBatch.scala:132-145`). */
final case class SizeViolationRow(
    event_id: Long, bad_row_type: String, payload_prefix: String, actual_size: Long)

/** P14: Thrift wire serialization of CollectorPayload
  * (reference `SplitBatch.scala:36-38,82-83` — `TSerializer.serialize`,
  * TBinaryProtocol). Implemented against libthrift directly with the field
  * ids of the public collector-payload-1 IDL
  * (`iglu:com.snowplowanalytics.snowplow/CollectorPayload/thrift/1-0-0`):
  *
  * | id    | field         | type         |
  * |-------|---------------|--------------|
  * | 31337 | schema        | string       |
  * | 100   | ipAddress     | string       |
  * | 200   | timestamp     | i64          |
  * | 210   | encoding      | string       |
  * | 220   | collector     | string       |
  * | 300   | userAgent     | string       |
  * | 310   | refererUri    | string       |
  * | 320   | path          | string       |
  * | 330   | querystring   | string       |
  * | 340   | body          | string       |
  * | 350   | headers       | list<string> |
  * | 360   | contentType   | string       |
  * | 400   | hostname      | string       |
  * | 410   | networkUserId | string       |
  *
  * Wire parity with Snowplow enrich only matters when feeding that
  * pipeline; gate behind config (SURVEY §7.4.5). Null/absent optional
  * fields are skipped, as thrift generated code does.
  */
object ThriftPayload {

  import java.nio.charset.StandardCharsets.UTF_8

  private def writeString(p: TBinaryProtocol, id: Short, v: String): Unit =
    if (v != null) {
      p.writeFieldBegin(new TField("", TType.STRING, id))
      p.writeBinary(java.nio.ByteBuffer.wrap(v.getBytes(UTF_8)))
      p.writeFieldEnd()
    }

  /** Reusable serializer: one buffer + protocol for a whole partition
    * (the Spark analog of the reference's thread-local TSerializer —
    * `SplitBatch.scala:36-38`). `ByteArrayOutputStream.reset()` keeps the
    * grown backing array, so steady-state serialization allocates only
    * the result copy. */
  final class Serializer {
    private val baos = new java.io.ByteArrayOutputStream(256)
    private val proto =
      new TBinaryProtocol(new org.apache.thrift.transport.TIOStreamTransport(baos))
    def apply(r: PayloadRecord): Array[Byte] = {
      baos.reset()
      writeRecord(proto, r)
      baos.toByteArray
    }
  }

  /** Serialize one record (fresh buffer; tests + one-off use). */
  def serialize(r: PayloadRecord): Array[Byte] = {
    val buf = new TMemoryBuffer(256)
    val p = new TBinaryProtocol(buf)
    writeRecord(p, r)
    java.util.Arrays.copyOf(buf.getArray, buf.length)
  }

  /** Write one record in IDL declaration order. */
  private def writeRecord(p: TBinaryProtocol, r: PayloadRecord): Unit = {
    p.writeStructBegin(new TStruct("CollectorPayload"))
    writeString(p, 31337, r.schema)
    writeString(p, 100, r.ipAddress)
    p.writeFieldBegin(new TField("", TType.I64, 200))
    p.writeI64(r.timestamp)
    p.writeFieldEnd()
    writeString(p, 210, r.encoding)
    writeString(p, 220, r.collector)
    writeString(p, 300, r.userAgent)
    writeString(p, 310, r.refererUri)
    writeString(p, 320, r.path)
    writeString(p, 330, r.querystring)
    writeString(p, 340, r.body)
    if (r.headers != null && r.headers.nonEmpty) {
      p.writeFieldBegin(new TField("", TType.LIST, 350))
      p.writeListBegin(new TList(TType.STRING, r.headers.size))
      r.headers.foreach(h => p.writeBinary(java.nio.ByteBuffer.wrap(h.getBytes(UTF_8))))
      p.writeListEnd()
      p.writeFieldEnd()
    }
    writeString(p, 360, r.contentType)
    writeString(p, 400, r.hostname)
    writeString(p, 410, r.networkUserId)
    p.writeFieldStop()
    p.writeStructEnd()
  }

  /** Mirror of the thrift-generated `CollectorPayload.toString` (the string
    * the reference truncates into SizeViolation bad rows —
    * `SplitBatch.scala:142` `event.toString().take(maxSize / 10)`):
    * declaration-order fields, default-requiredness fields always printed
    * (null → "null"), optional fields printed only when set, lists in Java
    * `List.toString` form. Golden-pinned against the reference's
    * SplitBatchSpec strings. */
  def toStringRepr(r: PayloadRecord): String = {
    val sb = new StringBuilder("CollectorPayload(")
    def req(name: String, v: Any): Unit =
      sb.append(name).append(':').append(if (v == null) "null" else v.toString).append(", ")
    req("schema", r.schema)
    req("ipAddress", r.ipAddress)
    req("timestamp", r.timestamp)
    req("encoding", r.encoding)
    sb.append("collector:").append(if (r.collector == null) "null" else r.collector)
    def opt(name: String, v: String): Unit =
      if (v != null) sb.append(", ").append(name).append(':').append(v)
    opt("userAgent", r.userAgent)
    opt("refererUri", r.refererUri)
    opt("path", r.path)
    opt("querystring", r.querystring)
    opt("body", r.body)
    if (r.headers != null && r.headers.nonEmpty)
      sb.append(", headers:").append(r.headers.mkString("[", ", ", "]"))
    opt("contentType", r.contentType)
    opt("hostname", r.hostname)
    opt("networkUserId", r.networkUserId)
    sb.append(')').toString
  }

  /** Exact TBinaryProtocol size of [[serialize]]'s output as a pure column
    * expression over the `CollectorPipeline.payloads` projection: each set
    * string field costs 3 (field header) + 4 (length prefix) + bytes; the
    * i64 timestamp 3 + 8; a non-empty headers list 3 + 5 (list header) +
    * Σ(4 + bytes); plus the 1-byte stop. Byte parity with the serializer is
    * asserted in SplitBatchSpec, so SizeViolation `actual_size` matches the
    * reference's `wholeEventBytes` (`SplitBatch.scala:84`) without paying a
    * serialization in the size gate. Stays inside whole-stage codegen. */
  def wireSizeCol: Column = {
    def f(c: Column) = when(c.isNotNull, octet_length(c) + 7).otherwise(lit(0))
    Seq(
      col("schema_uri"), col("ip"), col("encoding"), col("collector"),
      col("user_agent"), col("referer_uri"), col("path"), col("querystring"),
      col("body"), col("content_type"), col("hostname"), col("network_userid"))
      .map(f)
      .foldLeft(lit(12): Column)(_ + _) + // i64 timestamp (11) + stop (1)
      when(col("headers").isNotNull && size(col("headers")) > 0,
        aggregate(col("headers"), lit(8), (acc, h) => acc + octet_length(h) + 4))
        .otherwise(lit(0))
  }

  /** Column version of [[toStringRepr]] over the payloads projection —
    * feeds the SizeViolation `payload_prefix` truncation. */
  def toStringCol: Column = {
    def req(name: String, c: Column) =
      concat(lit(s", $name:"), coalesce(c.cast("string"), lit("null")))
    def opt(name: String, c: Column) =
      when(c.isNotNull, concat(lit(s", $name:"), c)).otherwise(lit(""))
    concat(
      lit("CollectorPayload(schema:"), coalesce(col("schema_uri"), lit("null")),
      req("ipAddress", col("ip")),
      req("timestamp", col("timestamp_ms")),
      req("encoding", col("encoding")),
      req("collector", col("collector")),
      opt("userAgent", col("user_agent")),
      opt("refererUri", col("referer_uri")),
      opt("path", col("path")),
      opt("querystring", col("querystring")),
      opt("body", col("body")),
      when(col("headers").isNotNull && size(col("headers")) > 0,
        concat(lit(", headers:["), array_join(col("headers"), ", "), lit("]")))
        .otherwise(lit("")),
      opt("contentType", col("content_type")),
      opt("hostname", col("hostname")),
      opt("networkUserId", col("network_userid")),
      lit(")"))
  }

  /** F6 with the reference's exact semantics (`SplitBatch.scala:81-145`):
    * the gate is the SERIALIZED event size (`wholeEventBytes >= maxBytes`),
    * `actual_size` reports that wire size, and `payload_prefix` keeps
    * `maxBytes / 10` characters of the thrift `toString()` rendering.
    * A [[payloadPass]] projection — `toString` rendered only for violating
    * rows. This is the serialization the sink pays anyway (measured:
    * cheaper than evaluating the equivalent [[wireSizeCol]] column
    * formula, whose pushed-filter copy re-evaluates the payload build per
    * reference); the formula remains the spec/oracle-side mirror with
    * asserted byte parity (SplitBatchSpec). */
  def sizeViolations(payloads: DataFrame, maxBytes: Int): Dataset[SizeViolationRow] =
    payloadPass[SizeViolationRow](payloads) { () => (r, rec, wire) =>
      if (wire.length < maxBytes) Iterator.empty
      else Iterator.single(SizeViolationRow(
        r.getLong(0), "SizeViolation", toStringRepr(rec).take(maxBytes / 10), wire.length.toLong))
    }

  /** One decoded wire record for the oracle-checked round-trip query:
    * event_id (carried beside the bytes) + every thrift field, headers
    * joined for the comparable projection. */
  final case class DecodedPayload(
      event_id: Long, schema_uri: String, ip: String, timestamp_ms: Long,
      encoding: String, collector: String, user_agent: String,
      referer_uri: String, path: String, querystring: String, body: String,
      headers_str: String, content_type: String, hostname: String,
      network_userid: String)

  /** The READ path: wire bytes → typed fields (what every downstream
    * consumer of the reference's good stream does first). Same
    * per-partition protocol-buffer shape as [[encode]]; narrow. Under the
    * driver oracle via `c_thrift_roundtrip`: encode∘decode must reproduce
    * the analytically-computed payload — the decoder is hash-checked
    * against DuckDB, not just against our own encoder (the wire digest
    * spec pins the bytes themselves, closing the symmetric-bug loophole a
    * round-trip-only check would leave). */
  def decode(wire: Dataset[WirePayload]): Dataset[DecodedPayload] = {
    implicit val enc0 = Encoders.product[DecodedPayload]
    wire.mapPartitions(_.map(decoded))
  }

  private def decoded(w: WirePayload): DecodedPayload = {
    val r = deserialize(w.thrift)
    DecodedPayload(
      w.event_id, r.schema, r.ipAddress, r.timestamp, r.encoding,
      r.collector, r.userAgent, r.refererUri, r.path, r.querystring,
      r.body,
      if (r.headers == null) null else r.headers.mkString("|"),
      r.contentType, r.hostname, r.networkUserId)
  }

  /** [[decode]] with the production consumer's tolerance: a record whose
    * bytes do not parse as a CollectorPayload (wire corruption, foreign
    * garbage on the stream) yields a null-fielded row flagged
    * `decode_ok = false` instead of killing the task — the engine analog
    * of the reference consumers' corrupt-thrift bad rows. One hostile
    * record must never wedge a 1000-executor read job. */
  def decodeSafe(wire: Dataset[WirePayload]): DataFrame = {
    implicit val enc0 = Encoders.product[(Long, Option[DecodedPayload])]
    wire.mapPartitions { it =>
      it.map { w =>
        (w.event_id, try Some(decoded(w)) catch { case _: Exception => None })
      }
    }.toDF("event_id", "decoded")
      .select(
        col("event_id") +:
          Seq("schema_uri", "ip", "timestamp_ms", "encoding", "collector",
            "user_agent", "referer_uri", "path", "querystring", "body",
            "headers_str", "content_type", "hostname", "network_userid")
            .map(f => col(s"decoded.$f").as(f)) :+
          col("decoded").isNotNull.as("decode_ok"): _*)
  }

  /** Decode (round-trip testing + reading back the wire format). */
  def deserialize(bytes: Array[Byte]): PayloadRecord = {
    val t = new TMemoryBuffer(bytes.length)
    t.write(bytes, 0, bytes.length)
    val p = new TBinaryProtocol(t)
    var r = PayloadRecord(null, null, 0L, null, null, null, null, null, null, null, null, null, null, null)
    def str(): String = {
      val bb = p.readBinary()
      new String(bb.array(), bb.position(), bb.remaining(), UTF_8)
    }
    p.readStructBegin()
    var done = false
    while (!done) {
      val f = p.readFieldBegin()
      if (f.`type` == TType.STOP) done = true
      else {
        (f.id, f.`type`) match {
          case (31337, TType.STRING) => r = r.copy(schema = str())
          case (100, TType.STRING)   => r = r.copy(ipAddress = str())
          case (200, TType.I64)      => r = r.copy(timestamp = p.readI64())
          case (210, TType.STRING)   => r = r.copy(encoding = str())
          case (220, TType.STRING)   => r = r.copy(collector = str())
          case (300, TType.STRING)   => r = r.copy(userAgent = str())
          case (310, TType.STRING)   => r = r.copy(refererUri = str())
          case (320, TType.STRING)   => r = r.copy(path = str())
          case (330, TType.STRING)   => r = r.copy(querystring = str())
          case (340, TType.STRING)   => r = r.copy(body = str())
          case (350, TType.LIST) =>
            val l = p.readListBegin()
            r = r.copy(headers = (0 until l.size).map(_ => str()))
            p.readListEnd()
          case (360, TType.STRING) => r = r.copy(contentType = str())
          case (400, TType.STRING) => r = r.copy(hostname = str())
          case (410, TType.STRING) => r = r.copy(networkUserId = str())
          case _ => org.apache.thrift.protocol.TProtocolUtil.skip(p, f.`type`)
        }
        p.readFieldEnd()
      }
    }
    p.readStructEnd()
    r
  }

  /** The 14 payload columns in [[PayloadRecord]] field order. */
  private val RecordCols = Seq(
    "schema_uri", "ip", "timestamp_ms", "encoding", "collector", "user_agent",
    "referer_uri", "path", "querystring", "body", "headers", "content_type",
    "hostname", "network_userid")

  /** The one serializer pass behind [[encode]], [[sizeViolations]],
    * [[SplitBatch.routeWire]] and [[SplitBatch.badRowFields]]: select
    * `event_id`, the `lead` columns and the 14 record columns (nothing
    * else), read each Row positionally into a [[PayloadRecord]] (a typed
    * encoder's deserialization costs more than the thrift write itself),
    * serialize it with one reused [[Serializer]] per partition — the Spark
    * analog of the reference's thread-local TSerializer — and hand
    * (row, record, wire bytes) to the per-partition function `mk` builds.
    * Narrow; `lead` column `i` is at row position `1 + i`. */
  private[operators] def payloadPass[T <: Product : TypeTag](payloads: DataFrame, lead: String*)(
      mk: () => (Row, PayloadRecord, Array[Byte]) => Iterator[T]): Dataset[T] = {
    implicit val enc: org.apache.spark.sql.Encoder[T] = Encoders.product[T]
    val at = 1 + lead.size
    Spread(payloads)
      .select((("event_id" +: lead) ++ RecordCols).map(col): _*)
      .mapPartitions { it =>
        val ser = new Serializer
        val f = mk()
        it.flatMap { r =>
          def s(i: Int): String = r.getString(at + i)
          val rec = PayloadRecord(
            s(0), s(1), r.getLong(at + 2), s(3), s(4), s(5), s(6), s(7), s(8), s(9),
            if (r.isNullAt(at + 10)) null else r.getSeq[String](at + 10),
            s(11), s(12), s(13))
          f(r, rec, ser(rec))
        }
      }
  }

  /** Payload DataFrame (CollectorPipeline.payloads shape) → wire records:
    * the [[payloadPass]] that also carries `partition_key`. */
  def encode(payloads: DataFrame): Dataset[WirePayload] =
    payloadPass[WirePayload](payloads, "partition_key") { () => (r, _, wire) =>
      Iterator.single(WirePayload(r.getLong(0), r.getString(1), wire))
    }
}
