package graft.operators

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8

/** One tracker element's placement after splitting: element `idx` of
  * request `event_id` lands in sub-batch `batch_idx` (-1 = irreducible,
  * becomes a SizeViolation bad row). */
final case class PackedElement(event_id: Long, idx: Int, batch_idx: Int)

/** One event's sink-path routing decision (the reference's
  * `EventSerializeResult` summarized): `disposition` good | split | bad,
  * `n_good` wire records emitted, `n_bad` bad rows, `reason` the stable
  * prefix of the reference's error message (null when none). */
final case class WireRoute(
    event_id: Long, disposition: String, n_good: Int, n_bad: Int, reason: String)

/** One bad row the bad sink actually receives, pre-envelope (reference
  * `SplitBatch.oversizedPayload`): `actual_size` is the failed ELEMENT's
  * serialized size on the split path but the WHOLE event's wire size on
  * the unsplittable branches, `payload_prefix` is maxBytes/10 chars of the
  * whole event's thrift `toString()` on every branch. */
final case class BadRowFields(
    event_id: Long, timestamp_ms: Long, reason: String,
    actual_size: Long, payload_prefix: String)

/** Greedy size-capped batch splitting (reference A1/A2:
  * `core/.../utils/SplitBatch.scala:40-74` greedy packer, `:81-113`
  * envelope re-pack). Order-sensitive and stateful per request, so it is a
  * typed `mapPartitions` — the one operator in the collector surface that
  * genuinely isn't a relational expression (SURVEY §2.4). Per-request work
  * is independent → embarrassingly parallel, no shuffle, scales linearly.
  */
object SplitBatch {

  /** Greedy pack: assign each element (by serialized size) to the first
    * batch with room. A batch costs `base` (envelope) + element sizes +
    * `join` bytes between consecutive elements. Elements that cannot fit
    * even alone (`base + size > max`) get batch -1 and do not disturb the
    * running batch (reference: oversized single events → SizeViolation).
    *
    * Invariants (property-tested): every batch ≤ max; element order
    * preserved; batch indices dense ascending.
    */
  def pack(sizes: IndexedSeq[Long], base: Long, join: Long, max: Long): IndexedSeq[Int] = {
    var batch = 0
    var used = base
    var empty = true
    sizes.map { s =>
      if (base + s > max) -1
      else {
        val cost = s + (if (empty) 0L else join)
        if (used + cost <= max) { used += cost; empty = false; batch }
        else {
          if (!empty) batch += 1
          used = base + s; empty = false; batch
        }
      }
    }
  }

  /** A4: sink-side re-chunk with BOTH a byte cap and a record-count cap
    * (the SQS shape: ≤10 messages per sendMessageBatch, ≤ bytes —
    * reference `KinesisSink.scala:545-572`). Same greedy order-preserving
    * contract as [[pack]]. */
  def packWithCount(
      sizes: IndexedSeq[Long], base: Long, join: Long,
      max: Long, maxCount: Int): IndexedSeq[Int] = {
    var batch = 0
    var used = base
    var n = 0
    sizes.map { s =>
      if (base + s > max) -1
      else {
        val cost = s + (if (n == 0) 0L else join)
        if (n < maxCount && used + cost <= max) { used += cost; n += 1; batch }
        else {
          if (n > 0) batch += 1
          used = base + s; n = 1; batch
        }
      }
    }
  }

  /** The reference's bad-row messages, one per branch of the decision
    * tree (the stable prefix — exception detail suffixes omitted). */
  val GetNotSplittable = "GET requests cannot be split"
  val NotJson = "cannot split POST requests which are not json"
  val NotSelfDescribing = "cannot split POST requests which are not self-describing"
  val NoDataArray = "cannot split POST requests which do not contain a data array"
  val StrippedTooBig =
    "cannot split this POST request because event without \"data\" field is still too big"
  val SplitTooLarge = "this POST request split is still too large"
  /** Not a reference message: the live collector's flat size gate
    * ([[CollectorPipeline.route]]) bad-rows an oversized POST whole. */
  val PostNotSplit = "the live collector does not split POST requests"

  /** Where one payload lands in the reference's decision tree. */
  private sealed trait Decision
  private case object Fits extends Decision
  /** One bad row carrying the whole event's wire size. */
  private final case class Unsplittable(reason: String) extends Decision
  /** The data elements' serialized sizes and their greedy placement
    * (-1 = irreducible: one [[SplitTooLarge]] bad row each). */
  private final case class Split(sizes: IndexedSeq[Long], assigned: IndexedSeq[Int])
      extends Decision

  /** The reference's FULL `splitAndSerializePayload` decision tree
    * (`core/.../utils/SplitBatch.scala:81-113`) for one payload whose
    * serialized size is `whole`:
    *  - serialized size < maxBytes → fits;
    *  - oversized GET (no body) → unsplittable;
    *  - oversized POST: parse the self-describing body (real Jackson
    *    parse), strip `data`, re-check the stripped event, greedy-pack the
    *    elements into sub-batches under the reference's adjusted budget
    *    (`maxBytes − wholeBytes + dataBytes`);
    *  - unparseable / non-self-describing / no-array bodies, or a stripped
    *    event still too big → unsplittable with the branch's message. */
  private def decide(mapper: ObjectMapper, body: String, whole: Int, maxBytes: Int): Decision =
    if (whole < maxBytes) Fits
    else if (body == null) Unsplittable(GetNotSplittable)
    else {
      val root = try mapper.readTree(body) catch { case _: Exception => null }
      lazy val schema = root.get("schema")
      lazy val data = root.get("data")
      if (root == null) Unsplittable(NotJson)
      else if (schema == null || !schema.isTextual || data == null) Unsplittable(NotSelfDescribing)
      else if (!data.isArray) Unsplittable(NoDataArray)
      else {
        val elems = (0 until data.size).map(i => mapper.writeValueAsString(data.get(i)))
        val dataBytes = elems.mkString("[", ",", "]").getBytes(UTF_8).length
        if (whole - dataBytes >= maxBytes) Unsplittable(StrippedTooBig)
        else {
          val sizes = elems.map(_.getBytes(UTF_8).length.toLong)
          Split(sizes, pack(sizes, base = 0L, join = 1L, max = (maxBytes - whole + dataBytes).toLong))
        }
      }
    }

  /** [[decide]] per payload, summarized as one [[WireRoute]] row — the
    * split-aware disposition the sink acts on.
    * [[CollectorPipeline.badRows]] stays the flat pre-split size gate (its
    * byte-exact golden is the no-split path). A [[ThriftPayload.payloadPass]]
    * projection with one ObjectMapper per partition. */
  def routeWire(payloads: DataFrame, maxBytes: Int): Dataset[WireRoute] =
    ThriftPayload.payloadPass[WireRoute](payloads) { () =>
      val mapper = new ObjectMapper
      (r, rec, wire) => Iterator.single {
        val id = r.getLong(0)
        decide(mapper, rec.body, wire.length, maxBytes) match {
          case Fits => WireRoute(id, "good", 1, 0, null)
          case Unsplittable(reason) => WireRoute(id, "bad", 0, 1, reason)
          case Split(_, assigned) =>
            val nBad = assigned.count(_ == -1)
            val nGood = assigned.filter(_ >= 0).distinct.size
            WireRoute(id, if (nGood > 0) "split" else "bad", nGood, nBad,
              if (nBad > 0) SplitTooLarge else null)
        }
      }
    }

  /** The bad-row STREAM (vs [[routeWire]]'s per-event summary): one output
    * row per bad row the reference's bad sink would receive
    * (`core/.../utils/SplitBatch.scala:81-145`). Unsplittable events emit
    * one row carrying the whole event's wire size and the branch's
    * message; a split whose elements are irreducibly large emits one row
    * PER failed element carrying that element's serialized size. Every row
    * keeps maxBytes/10 chars of the whole event's thrift toString() — the
    * reference's debugging truncation. Same projection as [[routeWire]]. */
  def badRowFields(payloads: DataFrame, maxBytes: Int): Dataset[BadRowFields] =
    ThriftPayload.payloadPass[BadRowFields](payloads) { () =>
      val mapper = new ObjectMapper
      (r, rec, wire) => {
        lazy val prefix = ThriftPayload.toStringRepr(rec).take(maxBytes / 10)
        def row(reason: String, size: Long) =
          BadRowFields(r.getLong(0), rec.timestamp, reason, size, prefix)
        decide(mapper, rec.body, wire.length, maxBytes) match {
          case Fits => Iterator.empty
          case Unsplittable(reason) => Iterator.single(row(reason, wire.length.toLong))
          case Split(sizes, assigned) =>
            assigned.indices.iterator.filter(assigned(_) == -1).map(i => row(SplitTooLarge, sizes(i)))
        }
      }
    }

  /** Split tp2 self-describing bodies: parse JSON for real (Jackson — one
    * ObjectMapper per partition, the Spark analog of the reference's
    * thread-local TSerializer), measure each `data[]` element re-serialized,
    * and greedy-pack into envelope copies of ≤ maxBytes. */
  def splitTp2(env: DataFrame, maxBytes: Int): Dataset[PackedElement] = {
    val spark = env.sparkSession
    import spark.implicits._
    env
      .filter(col("method") === "POST" &&
        col("body").startsWith("{\"schema\":\"iglu:com.snowplowanalytics.snowplow/payload_data/"))
      .select(col("event_id"), col("body"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val mapper = new ObjectMapper
        it.flatMap { case (id, body) =>
          val root = mapper.readTree(body)
          val uri = root.get("schema").asText
          val data = root.get("data")
          val sizes = (0 until data.size).map(i =>
            mapper.writeValueAsString(data.get(i)).getBytes("UTF-8").length.toLong)
          val base = s"""{"schema":"$uri","data":[]}""".getBytes("UTF-8").length.toLong
          pack(sizes, base, join = 1, max = maxBytes.toLong)
            .zipWithIndex
            .map { case (b, i) => PackedElement(id, i, b) }
        }
      }
  }
}
