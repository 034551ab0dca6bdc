package graft.streaming

import graft.operators.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** R15: streaming SHOT-LEVEL video dedup — the fifth and last modality
  * gains an ingest index (text exact/near/substring, image, audio, now
  * video). Unlike the single-code modalities on [[CodeDupIndex]], a
  * video's fingerprint is a SET of per-frame signatures
  * ([[Multimodal.videoFrameSigs]]: the exact-integer `w:h:Σr:Σg:Σb`
  * stand-in for a per-frame perceptual hash), and the duplicate
  * predicate is shot-level CONTAINMENT, not hamming distance: a pair
  * is a dup when it shares ≥ `minShared` distinct frame signatures —
  * exactly [[Multimodal.videoDups]]'s batch semantics, which re-finds
  * trimmed re-publications (the same video minus its first frame) that
  * any whole-file hash misses.
  *
  * Mechanics mirror [[CodeDupIndex]] otherwise: the accepted corpus's
  * (frame-sig, doc_id) rows live in a bucketed [[DurableStore]]
  * (band_val = the frame signature, so the probe join is zero-exchange
  * on the index side); arriving videos probe the store AND the
  * earlier-doc_id members of their own batch (arrival-order election);
  * the per-pair shared-signature count is the verification step (the
  * hamming analog); verdicts pin before the store mutates.
  *
  * At 100 TB: per batch the work is one narrow decode map (frames →
  * signatures), one bucketed probe join keyed on the signature, and a
  * per-pair count — index-side corpus-SUBLINEAR (only colliding
  * signatures join; the hot-signature occupancy cap below bounds a
  * degenerate all-black-frame key the way [[Multimodal.videoDups]]
  * caps it in batch). */
object VideoDupIndex {

  final case class VideoDupConfig(dir: String, minShared: Int = 3,
      buckets: Int = 8, maxOccupancy: Int = 256) {
    def store: DurableStore = DurableStore.bucketed(dir, "bands",
      "band_val STRING, doc_id BIGINT, batch_id BIGINT", buckets, "graft_videodup_bands")
  }

  /** Distinct (doc_id, band_val = frame signature) rows of a doc batch —
    * real AVI bytes through the real nested-RIFF walk, one decode per
    * file in a narrow map stage (includes the trimmed re-publication
    * twins the synth corpus carries). */
  def videoSigs(docs: DataFrame): DataFrame =
    Multimodal.videoFrameSigs(docs).toDF()
      .select(col("doc_id"), col("fsig").as("band_val")).distinct()

  /** The occupancy cap every ingest path applies before rows reach the
    * store or a join: signatures shared by more than `maxOccupancy`
    * videos in the relation at hand are dropped — the
    * [[Multimodal.videoDups]] recall trade. */
  private def capped(sigs: DataFrame, maxOccupancy: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    sigs
      .withColumn("_bsz", count(lit(1)).over(Window.partitionBy("band_val")))
      .filter(col("_bsz") <= maxOccupancy)
      .drop("_bsz")
  }

  /** Freeze an initial index from a doc snapshot. The snapshot passes
    * the same occupancy cap as every serve-side append, so no stored key
    * starts degenerate. */
  def init(spark: SparkSession, indexDocs: DataFrame, cfg: VideoDupConfig): Unit =
    cfg.store.reset(capped(videoSigs(indexDocs), cfg.maxOccupancy))

  /** Serve one micro-batch of docs: one verdict row per arriving video —
    * `(doc_id, is_new, n_matches, best_match, best_shared)` where
    * matches are prior videos sharing ≥ minShared distinct frame sigs,
    * best = most shared sigs then lowest prior id, (−1, −1) when novel.
    * Novel videos append their signature rows commit-fenced; re-served
    * batchIds recompute identical verdicts and append nothing. */
  def serveBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                 cfg: VideoDupConfig): DataFrame =
    serveSigs(spark, videoSigs(batch), batchId, cfg)

  /** Serve PRE-COMPUTED (doc_id, band_val) signature rows (re-encodes,
    * external captures). */
  def serveSigs(spark: SparkSession, sigs0: DataFrame, batchId: Long,
                cfg: VideoDupConfig): DataFrame = {
    val store = cfg.store.open(spark, batchId)
    // r15 (review): the arriving sigs are pinned FIRST — both the band
    // relation and the verdict spine read them, and via serveBatch the
    // sigs subtree is the per-file AVI decode, which would otherwise
    // run twice per micro-batch.
    val sigs = sigs0.localCheckpoint()
    // hot-signature occupancy cap on the BATCH side (init applies the
    // same cap to the snapshot, so no stored key STARTS degenerate): a
    // signature shared by thousands of videos would otherwise quadratic
    // the candidate join; capped pairs simply don't count toward the
    // shared tally — the same recall trade videoDups documents.
    val bands = capped(sigs, cfg.maxOccupancy)
      .localCheckpoint() // 3 consumers below
    val idxCand = probe(bands, store, cfg)
    val inBatchCand = bands.as("a").join(
      bands.as("b"),
      col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") > col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("old_id"))
    val hits = idxCand.unionByName(inBatchCand)
      .groupBy("doc_id", "old_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= cfg.minShared)
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_matches"),
        min(struct((-col("n_shared")).as("ns"), col("old_id").as("o"))).as("best"))
      .select(col("doc_id"), col("n_matches"),
        col("best.o").as("best_match"), (-col("best.ns")).as("best_shared"))
    val verdicts = sigs.select("doc_id").distinct()
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_matches").isNull.as("is_new"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("best_match"), lit(-1L)).as("best_match"),
        coalesce(col("best_shared"), lit(-1L)).as("best_shared"))
      .localCheckpoint() // pin BEFORE the index these plans read mutates

    store.commit(
      bands.join(verdicts.filter(col("is_new")).select("doc_id"), Seq("doc_id")))
    verdicts
  }

  /** The serve's store probe: the batch's `(doc_id, band_val)` sigs
    * joined to every other batch's stored sigs on the bucket key.
    * r16 (advisor): the occupancy cap applies on the INDEX side too — a
    * key can accrete past maxOccupancy across many batches (each adds
    * ≤cap novel carriers while shared counts stay below minShared), so
    * the per-batch cap alone doesn't bound the candidate join over the
    * stream's lifetime the way Multimodal.videoDups bounds the whole
    * relation. The cap's window needs ClusteredDistribution(band_val),
    * which the bucket spec already satisfies, so the join still plans
    * zero index-side exchange (StreamingSpec plans this). */
  private[graft] def probe(sigs: DataFrame, store: DurableStore.Batch,
                           cfg: VideoDupConfig): DataFrame =
    sigs.join(capped(store.prior, cfg.maxOccupancy)
        .select(col("band_val"), col("doc_id").as("old_id")), Seq("band_val"))
      .select(col("doc_id"), col("old_id"))
}
