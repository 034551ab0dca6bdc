package graft.streaming

import graft.operators.{Dedup, Spread, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** R13: the streaming serve leg of EXACT-SUBSTRING dedup — the
  * continuous form of [[Dedup.substrDedup]] (Lee et al. 2022
  * ExactSubstr): any ≥w-token run already seen — in the frozen index,
  * a prior micro-batch, or earlier (by packed doc_id/pos order) in the
  * SAME batch — is removed from the arriving document; the first
  * occurrence ever seen keeps its text. Completes the streaming dedup
  * family: [[IncrementalIndex]] exact whole-doc, [[NearDupIndex]]
  * banded near-dup, this one arbitrary-boundary repeated spans.
  *
  * Durable state is the distinct window-fingerprint relation of all
  * text ever served — one `(band_val, batch_id)` row per fingerprint
  * (a bucketed [[DurableStore]]; `band_val` carries the 8-token
  * window md5 here), so the per-batch join plans ZERO index-side
  * exchange, exactly like the band indexes. The
  * store is corpus-token sized in ROWS but holds no text — 16-byte
  * hashes only (the paper's suffix array is 8× the corpus; this is the
  * store a distributed ESD actually keeps).
  *
  * Per micro-batch ([[serveBatch]]): the batch's sliding windows probe
  * the store (any hit ⇒ every occurrence of that fingerprint in the
  * batch is a loser) and elect in-batch first occurrences for
  * fingerprints the store has never seen (packed doc_id/pos BIGINT
  * min — the batch operator's election, so a single batch over an
  * empty index reproduces [[Dedup.substrDedup]] bit-for-bit, spec-
  * pinned). Loser window starts flow back per doc (corpus-sublinear:
  * duplicated windows only) and each doc re-derives its tokens locally
  * to excise covered spans — text crosses exactly one keyed exchange,
  * the batch operator's contract.
  */
object SubstrIndex {

  final case class SubstrConfig(dir: String, w: Int = 8, buckets: Int = 8) {
    def store: DurableStore = DurableStore.bucketed(dir, "fps",
      "band_val STRING, batch_id BIGINT", buckets, "graft_substr_fps")
  }

  /** The (band_val, doc_id, pos) sliding-window relation of a doc
    * batch — [[Dedup.substrDedup]]'s narrow arm. */
  private[graft] def windowsOf(docs: DataFrame, w: Int): DataFrame =
    Spread(docs)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(col("toks")) - w),
          p => md5(array_join(slice(col("toks"), p + 1, lit(w)), " "))))
        .as(Seq("pos", "band_val")))

  /** Freeze an initial index from a corpus snapshot. */
  def init(spark: SparkSession, indexDocs: DataFrame, cfg: SubstrConfig): Unit =
    cfg.store.reset(windowsOf(indexDocs, cfg.w).select("band_val").distinct())

  /** Serve one micro-batch of `(doc_id, text, ...)` docs: returns the
    * batch operator's relation — (doc_id, n_tokens, n_removed,
    * kept_md5) — and commits the batch's NEW window fingerprints
    * unless this batchId already committed.
    * r18c (guide §2.6): the verdict reassembly reads only the pinned
    * probe + the batch text (never this store — the single-probe fusion
    * made that structural), so it is materialized on the caller's
    * thread while the commit arm runs, instead of serially by the
    * caller's sink write afterward. */
  def serveBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                 cfg: SubstrConfig): DataFrame =
    BatchArms(spark) { arms =>
      val verdicts = serveBatchStaged(arms, spark, batch, batchId, cfg)
      JobLabel(spark, s"substr b$batchId: verdicts pin") { verdicts.localCheckpoint() }
    }

  /** r18: the compute/commit split of [[serveBatch]] — see
    * [[IncrementalIndex.serveBatchStaged]] for the contract. The
    * appended relation (the probe's miss arm) is pinned before the
    * commit is forked into the caller's scope, so it runs concurrently
    * with anything that never reads this store. Composed as
    * [[probeStaged]] → [[verdictsFromProbe]]. */
  private[streaming] def serveBatchStaged(
      arms: BatchArms, spark: SparkSession, batch: DataFrame, batchId: Long,
      cfg: SubstrConfig): DataFrame =
    verdictsFromProbe(arms, spark, batch, None,
      probeStaged(spark, batch, batchId, cfg), batchId, cfg)

  /** The PROBE half of a serve, pinned (r18b, guide §2.4/§2.6): the
    * batch's sliding windows LEFT-join the store once, carrying a
    * `_hit` flag — fusing the serve's former hit arm (inner join) and
    * miss arm (anti join + its own pin) into ONE bucketed store probe
    * and ONE pin (store band_vals are unique — init writes distinct,
    * each append is anti-joined against the index — so the left join
    * never duplicates a window). Split from the verdict half so a
    * composed pipeline ([[graft.streaming.CrawlPipeline]]) can run this
    * store-independent derivation CONCURRENTLY with the upstream dedup
    * stages over a SUPERSET of the docs that will reach this index
    * (windows are row-local, so restricting to the admitted members
    * afterward — [[verdictsFromProbe]]'s `members` — is bit-identical
    * to probing the admitted docs only). Opens the store batch (rollback
    * of half-appends) before the store is read. */
  private[streaming] final case class ProbeStage(probe: DataFrame, store: DurableStore.Batch)

  private[streaming] def probeStaged(
      spark: SparkSession, docs: DataFrame, batchId: Long,
      cfg: SubstrConfig): ProbeStage = {
    val store = cfg.store.open(spark, batchId)
    val probed = JobLabel(spark, s"substr b$batchId: probe pin") {
      probe(windowsOf(docs, cfg.w), store)
        .localCheckpoint() } // consumed by election, both loser arms, the append
    ProbeStage(probed, store)
  }

  /** The serve's store probe: the batch's windows LEFT-joined to every
    * other batch's stored fingerprints on the bucket key, `_hit` flagging
    * the known ones — zero index-side exchange (StreamingSpec plans this). */
  private[graft] def probe(windows: DataFrame, store: DurableStore.Batch): DataFrame =
    windows.join(store.prior.select(col("band_val"), lit(true).as("_hit")),
      Seq("band_val"), "left")

  /** The VERDICT half: election + span removal over a pinned
    * [[probeStaged]] result, with the commit forked into `arms`. `docs` are the documents the
    * verdicts cover; `members` (when the probe ran over a superset)
    * restricts every probe consumer — hit losers, the fresh election,
    * the append — to those doc_ids, which is exactly the relation a
    * members-only probe would have produced. */
  private[streaming] def verdictsFromProbe(
      arms: BatchArms, spark: SparkSession, docs: DataFrame, members: Option[DataFrame],
      st: ProbeStage, batchId: Long, cfg: SubstrConfig): DataFrame = {
    val probe = members match {
      case Some(m) => st.probe.join(m.select("doc_id"), Seq("doc_id"), "left_semi")
      case None => st.probe
    }
    // store hit ⇒ EVERY batch occurrence of that fingerprint is a loser
    // (the keeper lives in the corpus already)
    val knownLosers = probe.filter(col("_hit"))
      .select(col("doc_id"), col("pos"))
    // store-unseen fingerprints elect their in-batch first occurrence —
    // the batch operator's packed-BIGINT election (pos is per-TOKEN here,
    // so the declared bound is ~2^20 ≈ 1M tokens/doc). `fresh` is a
    // cheap filter of the pinned probe (no store contact), so its three
    // consumers (election, loser join, the append) share the one pin.
    // r18b (guide §2.4): the election rides ONE window pass over fresh
    // (count + min(packed) per band partition — no ordering needed)
    // instead of a groupBy aggregate joined back onto fresh: one
    // exchange on band_val where the agg+shuffle_hash-join shape paid
    // the aggregate's exchange plus the join's probe-side exchange.
    val packed = col("doc_id") * (1L << 20) + col("pos")
    val fresh = probe.filter(col("_hit").isNull).drop("_hit")
    val wband = org.apache.spark.sql.expressions.Window.partitionBy("band_val")
    val freshLosers = fresh
      .withColumn("c", count(lit(1)).over(wband))
      .withColumn("win", min(packed).over(wband))
      .filter(col("c") >= 2 && packed =!= col("win"))
      .select(col("doc_id"), col("pos"))
    // r18b: the union's distinct() was a no-op exchange — the arms are
    // DISJOINT (a window is a store hit or a store miss, never both) and
    // each is internally unique: probe rows are unique per (doc_id, pos)
    // because store band_vals are unique (init writes distinct, every
    // append is store-missed only, replay is fenced — the same invariant
    // the single left-join probe already relies on), and the window
    // election emits each fresh row at most once.
    val dropStarts = knownLosers.unionByName(freshLosers)
      .groupBy("doc_id").agg(sort_array(collect_list(col("pos"))).as("drop_starts"))

    // r18b: the verdict relation is deliberately NOT pinned — since the
    // single-probe fusion, its plan reads only the pinned probe and the
    // batch text, never this store, so the commit's concurrent append
    // cannot be observed through it and its (single) consumer inlines
    // the reassembly into its own execution: one fewer serial query
    // execution per micro-batch in both the standalone serve and the
    // composed crawl pipeline.
    // reassembly: the batch text crosses one doc_id exchange, each doc
    // filters its locally re-derived tokens against its loser starts
    // (span-merged linear kernel — see Dedup.keptAfterDrops)
    val w = cfg.w
    val verdicts = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .join(dropStarts, Seq("doc_id"), "left")
      .withColumn("drop_starts",
        coalesce(col("drop_starts"), array().cast("array<int>")))
      .withColumn("kept_arr",
        graft.operators.Dedup.keptAfterDrops(col("toks"), col("drop_starts"), w))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept_arr"))).cast("long").as("n_removed"),
        md5(array_join(col("kept_arr"), " ")).as("kept_md5"))
    if (!st.store.replay) arms.fork(s"substr b$batchId: commit") {
      st.store.commit(fresh.select("band_val").distinct())
    }
    verdicts
  }
}
