package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** R12: the streaming serve leg of PERCEPTUAL image dedup — the
  * multimodal sibling of [[NearDupIndex]] (text MinHash) and
  * [[IncrementalIndex]] (exact), the shape a LAION-style image+caption
  * ingest runs continuously: every arriving image is WHT-pHashed
  * ([[Multimodal.phashOf]]) and probed against the durable code index;
  * only perceptually-novel images are accepted and appended.
  *
  * Durable state is the BAND relation of every accepted image — a
  * bucketed [[DurableStore]] (`bands/`: `band_idx, band_val,
  * doc_id, phash, batch_id`, 4 rows per image: the 4 salt-prefixed
  * 16-bit chunks of the 64-bit code, [[Multimodal.hexBands]]) bucketed
  * by `band_val` so the per-batch probe join co-locates with ZERO
  * index-side exchange — the shuffle is paid once at append, never per
  * probe (the NearDupIndex r12 discipline). The full code rides on
  * every band row PRE-PARSED as one BIGINT (r18 store schema v2), so
  * candidate verification (hamming ≤ maxDist) is a single xor+bit_count
  * inside the probe join without a second lookup or a per-probe hex
  * parse; by pigeonhole the 4-chunk banding is COMPLETE at
  * hamming ≤ 3 (SimilaritySpec proves the batch equivalent equals brute
  * force).
  *
  * Per micro-batch ([[serveBatch]]): index probe on `band_val` plus an
  * in-batch self-join (earlier doc_id plays "already seen" — the same
  * arrival-order election as NearDupIndex), hamming-verified, then one
  * verdict row per image: `(doc_id, is_new, n_matches, best_match,
  * best_hamming)` — best = lowest hamming, lowest prior id on ties,
  * (-1, -1) when novel.
  *
  * At 100 TB: per-batch work is O(batch bands) shuffled once into the
  * bucket layout; band-bucket occupancy stays hamming-signal sized
  * because the EXACT index (byte-identical images,
  * [[IncrementalIndex]]) runs first in the ingest pipeline, so bitwise
  * copies never reach this join.
  */
object ImageDupIndex {

  final case class ImageDupConfig(dir: String, maxDist: Int = 3, buckets: Int = 8) {
    /** r14: the generic [[CodeDupIndex]] view of this config — same
      * prefix, table schema, and dirs, so existing stores re-bind. */
    def cfg: CodeDupIndex.CodeDupConfig = CodeDupIndex.CodeDupConfig(
      dir, "graft_imagedup_bands", "phash", maxDist, buckets)
    def store: DurableStore = cfg.store
  }

  /** The 4-band relation of an image batch (codes from the per-doc
    * synthesized BMPs — a real deployment feeds
    * [[Multimodal.readMediaFiles]] output through [[Multimodal.phashOf]]
    * instead; the band/probe machinery is unchanged). */
  private[graft] def codesOf(docs: DataFrame): DataFrame =
    Multimodal.phashes(docs).toDF().select(col("doc_id"), col("phash"))

  /** Freeze an initial index: every index image accepted as-is. */
  def init(spark: SparkSession, indexDocs: DataFrame, cfg: ImageDupConfig): Unit =
    CodeDupIndex.init(spark, codesOf(indexDocs), cfg.cfg)

  /** Serve one micro-batch; see object doc for semantics. The decode
    * (synth BMP → WHT pHash) happens here; everything else — banding,
    * zero-exchange probe, in-batch election, hamming verification,
    * verdicts, commit fencing — is the generic [[CodeDupIndex]]. */
  def serveBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                 cfg: ImageDupConfig): DataFrame =
    CodeDupIndex.serveBatch(spark, codesOf(batch), batchId, cfg.cfg)
}
