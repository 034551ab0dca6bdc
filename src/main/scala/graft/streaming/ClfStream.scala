package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.QualityRules

/** CONTINUOUS classifier training at the ingest edge — the streaming
  * form of [[graft.operators.QualityRules.perceptronTrain]]: each
  * micro-batch is one synchronous mini-batch update, so a model trains
  * WHILE the corpus ingests instead of in a nightly batch job.
  *
  * Durable state is a GRADIENT LOG, not a collapsed weight vector:
  * `grads/` holds one (bucket, g, batch_id) relation appended per
  * served batch, and the current model is its per-bucket sum
  * ([[model]]). The log form is what makes replay exact — a re-served
  * batch reconstructs its pre-update model by summing the log MINUS its
  * own rows (`batch_id =!= batchId`, the IncrementalIndex row-exclusion
  * discipline), which a collapsed vector cannot do. The log is a plain
  * [[DurableStore]] (`bucket, g, batch_id` rows, rewritten 4 files wide).
  *
  * Verdicts are PREQUENTIAL (test-then-train, the online-learning
  * evaluation standard): each batch is scored against the model as of
  * BEFORE its own update, so the returned keep/pos pairs are honest
  * held-out predictions even though every doc also trains the model.
  *
  * LAW (spec-pinned): serving the corpus as N micro-batches split by
  * `doc_id % N` in order IS `perceptronTrain(feats, epochs = 1,
  * miniBatches = N)` — the streaming log sum and the batch operator's
  * weight vector agree bucket-for-bucket, bit-for-bit.
  *
  * At 100 TB: the per-batch update is two keyed aggregates over the
  * batch's features plus a broadcast of the ≤[[QualityRules.ClfDim]]-row
  * model; the log grows one model-sized relation per batch (bounded by
  * buckets, never by rows) and the serve-time sum is log-length × model
  * width — a production deployment folds rows older than the checkpoint
  * horizon into one base row per bucket the same way it ages any
  * append-only changelog. */
object ClfStream {

  final case class ClfConfig(dir: String) {
    def store: DurableStore =
      DurableStore.plain(dir, "grads", "bucket BIGINT, g BIGINT, batch_id BIGINT", width = 4)
  }

  /** Fresh model: an empty gradient log. */
  def init(spark: SparkSession, cfg: ClfConfig): Unit =
    cfg.store.reset(cfg.store.empty(spark))

  /** The CURRENT model — the gradient log folded per bucket. */
  def model(spark: SparkSession, cfg: ClfConfig): DataFrame =
    cfg.store.rows(spark).groupBy("bucket").agg(sum("g").as("w"))

  /** Serve one micro-batch of labeled docs `(doc_id, text, pos)`:
    * returns prequential verdicts `(doc_id, pos, keep, margin, update)`
    * scored against the pre-update model, then commits this batch's
    * perceptron gradient to the log unless the batchId already
    * committed (replay). Call from `foreachBatch`. */
  def serveBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                 cfg: ClfConfig): DataFrame = {
    val store = cfg.store.open(spark, batchId)
    // pre-update model: the log minus this batch's own rows, so a
    // replayed batch scores against exactly the model the original saw
    val w = store.prior.groupBy("bucket").agg(sum("g").as("w"))
    // feats feed the margin pass AND the gradient pass — pin once (the
    // perceptronTrain discipline)
    val feats = QualityRules.perceptronFeatures(batch).localCheckpoint()
    val margins = feats.join(broadcast(w), Seq("bucket"), "left")
      .groupBy("doc_id", "y")
      .agg(sum(col("cnt") * coalesce(col("w"), lit(0L))).as("margin"))
    // pin BEFORE the log this plan read mutates
    val verdicts = margins.select(
      col("doc_id"), (col("y") === 1L).as("pos"),
      (col("margin") > 0).as("keep"), col("margin"),
      (col("y") * col("margin") <= 0).as("update")).localCheckpoint()
    store.commit(feats.join(verdicts.filter(col("update")).select("doc_id"), "doc_id")
      .groupBy("bucket").agg(sum(col("y") * col("cnt")).as("g")))
    verdicts
  }
}
