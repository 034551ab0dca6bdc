package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** R11: the streaming serve leg of NEAR-duplicate dedup — banded MinHash
  * over micro-batches, the continuous-crawl-ingest shape
  * ([[IncrementalIndex]] covers the exact-duplicate half; this covers
  * the LSH half that catches reworded boilerplate and template pages).
  *
  * Durable state is the BAND relation of every accepted doc — a
  * bucketed [[DurableStore]] (`bands/`: `band_idx, band_val, doc_id,
  * batch_id`, 4 rows per doc, the 4 salted minhashes
  * [[Dedup.minhashSignatures]] computes), so the per-batch probe join
  * co-locates against the index with ZERO index-side exchange.
  *
  * Per micro-batch ([[serveBatch]]): the batch's bands join the
  * persisted band relation keyed on `band_val` (each band's minhash is
  * salt-prefixed by its band index — [[graft.operators.TextOps.minhash]]
  * — so equal values imply equal band index modulo md5 collision, and
  * the single-column key is exactly the bucket key) plus a self-join
  * for in-batch pairs (earlier doc_id plays "already seen" — the
  * arrival-order analog of the batch window's first-copy election). A
  * pair with ≥ `minMatches` of the 4 bands agreeing is a near-dup hit
  * (matching bands = matching minhashes here, so `minMatches = 3`
  * estimates Jaccard ≳ 0.75 — the signature-based verification
  * production LSH serves with; full-text Jaccard would need a doc
  * store). Within-batch matches count regardless of whether the matched
  * doc is itself accepted — the standard parallel-LSH conservatism: if
  * C matches rejected A and A matched B, C is (transitively) a dup of
  * the accepted B with high probability.
  *
  * At 100 TB: the per-batch work is O(batch bands) shuffled once into
  * the index's bucket layout; band-bucket occupancy stays Jaccard-signal
  * sized because the exact index ([[IncrementalIndex]]) runs FIRST in
  * the ingest pipeline, so identical documents never reach this join
  * (the batch-side analog is [[Dedup.MaxBucket]]).
  *
  * Docs with < 3 tokens have no shingles, hence no signature: they are
  * absent from the verdicts (declared domain, same as `d_minhash`) and
  * pass to the exact-dedup leg only.
  */
object NearDupIndex {

  final case class NearDupConfig(dir: String, minMatches: Int = 3, buckets: Int = 8) {
    // band_val is the 32-hex md5 minhash (TextOps.minhash); at 100 TB a
    // deployment would re-key to the first 8 bytes to shrink the exchange
    def store: DurableStore = DurableStore.bucketed(dir, "bands",
      "band_idx INT, band_val STRING, doc_id BIGINT, batch_id BIGINT", buckets,
      "graft_neardup_bands")
  }

  /** The 4-band relation of a doc batch. */
  private[graft] def bandsOf(docs: DataFrame): DataFrame =
    Dedup.minhashSignatures(docs)
      .select(col("doc_id"), posexplode(array(
        col("sig0"), col("sig1"), col("sig2"), col("sig3"))).as(Seq("band_idx", "band_val")))
      .select(col("band_idx"), col("band_val"), col("doc_id"))

  /** Freeze an initial index: every index doc is accepted as-is. */
  def init(spark: SparkSession, indexDocs: DataFrame, cfg: NearDupConfig): Unit =
    cfg.store.reset(bandsOf(indexDocs))

  /** Serve one micro-batch: returns `(doc_id, is_new, n_matches,
    * best_match)` — `best_match` the strongest (most bands, then lowest
    * id) prior doc, `-1` when none — and commits the accepted docs'
    * bands unless this batchId already committed. */
  def serveBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                 cfg: NearDupConfig): DataFrame =
    BatchArms(spark)(serveBatchStaged(_, spark, batch, batchId, cfg))

  /** r18: the compute/commit split of [[serveBatch]] — see
    * [[IncrementalIndex.serveBatchStaged]] for the contract (verdicts
    * and the signature relation are pinned before the commit is forked
    * into the caller's scope, so running it concurrently with a LATER
    * stage's compute changes nothing a crash can observe beyond the
    * store-pending-vs-committed interleavings, each of which replays
    * exactly on its own fence).
    *
    * r18b (guide §2.3/§2.4): the pinned relation is the per-doc
    * SIGNATURE row (doc_id, sig0..sig3 — ONE row per doc) rather than
    * the exploded 4-rows-per-doc band relation: every consumer below
    * re-explodes it in-plan (a row-local Generate over the pin), and the
    * verdict domain is the pin's doc_id column DIRECTLY — the former
    * `bands.select("doc_id").distinct()` exchange is gone. */
  private[streaming] def serveBatchStaged(
      arms: BatchArms, spark: SparkSession, batch: DataFrame, batchId: Long,
      cfg: NearDupConfig): DataFrame = {
    val store = cfg.store.open(spark, batchId)
    val sigs = JobLabel(spark, s"near b$batchId: sigs pin") {
      Dedup.minhashSignatures(batch).localCheckpoint() }
    // the band explode is re-derived per consumer from the pin (column-
    // renamed per side so the in-batch self-join needs no alias
    // disambiguation over identical plans)
    def bandsAs(doc: String, bi: String, bv: String): DataFrame =
      sigs.select(col("doc_id").as(doc), posexplode(array(
        col("sig0"), col("sig1"), col("sig2"), col("sig3"))).as(Seq(bi, bv)))
    val bands = bandsAs("doc_id", "band_idx", "band_val")
    val idxPairs = probe(bands, store)
    val inBatchPairs = bands.join(
      bandsAs("b_doc", "b_idx", "b_val"),
      col("band_idx") === col("b_idx") &&
        col("band_val") === col("b_val") &&
        col("doc_id") > col("b_doc"))
      .select(col("doc_id"), col("b_doc").as("old_id"))
    val hits = hitsFromPairs(idxPairs.unionByName(inBatchPairs), cfg.minMatches)
    // verdict domain = the pin's one-row-per-doc doc_id column (docs
    // with a signature) — no distinct over the exploded bands
    val verdicts0 = sigs.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_matches").isNull.as("is_new"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("best_match"), lit(-1L)).as("best_match"))
    val verdicts = JobLabel(spark, s"near b$batchId: verdicts pin") {
      verdicts0.localCheckpoint() } // pin BEFORE the index these plans read mutates

    if (!store.replay) arms.fork(s"near b$batchId: commit") {
      store.commit(
        bands.join(verdicts.filter(col("is_new")).select("doc_id"), Seq("doc_id")))
    }
    verdicts
  }

  /** The serve's store probe: the batch's bands joined to every other
    * batch's stored bands on the single-column key, which is the bucket
    * key (band_val is salt-prefixed per band index, so equality implies
    * the same band) — the batch_id filter keeps the scan bucketed, so the
    * join plans NO index-side exchange (StreamingSpec plans this). */
  private[graft] def probe(bands: DataFrame, store: DurableStore.Batch): DataFrame =
    bands.join(store.prior.select(col("band_val"), col("doc_id").as("old_id")),
      Seq("band_val"))
      .select(col("doc_id"), col("old_id"))

  /** The per-doc match election over a (doc_id, old_id) pair multiset —
    * one row per band agreement. Returns `(doc_id, n_matches,
    * best_match)` for docs with at least one old_id occurring
    * ≥ `minMatches` times: n_matches counts such old_ids, best_match is
    * the one with the most agreeing bands (lowest old_id on ties).
    *
    * r18c (guide §2.4): ONE doc_id exchange instead of two — the former
    * groupBy(doc_id, old_id) → groupBy(doc_id) pair planned two AQE
    * shuffle stages per micro-batch; the per-(doc, old) band counts are
    * now derived row-locally from the SORTED old_id list by a
    * run-length fold (lists are ≤ 4 bands × matched docs, and band-
    * bucket occupancy is bounded because the exact index runs first).
    * Semantics identical: a run of length nb is one (doc_id, old_id,
    * nb) row of the old shape; qualifying runs (nb >= minMatches)
    * count into n_matches; best = most bands, lowest old_id on ties —
    * olds ascend, so "strictly more bands than the best so far" IS the
    * old max(struct(nb, -old_id)) election. Equivalence is pinned by
    * StreamingSpec's randomized fold-vs-two-level-aggregation test. */
  private[graft] def hitsFromPairs(pairs: DataFrame, minMatches: Int): DataFrame = {
    import org.apache.spark.sql.Column
    val minM = lit(minMatches.toLong)
    // close the open run in `st`, emitting (n_matches', best_nb', best_old')
    def runClosed(st: Column, emit: (Column, Column, Column) => Column): Column = {
      val qual = st.getField("run") >= minM && st.getField("run") > lit(0L)
      val better = qual && st.getField("run") > st.getField("bnb")
      emit(st.getField("n") + when(qual, lit(1L)).otherwise(lit(0L)),
        when(better, st.getField("run")).otherwise(st.getField("bnb")),
        when(better, st.getField("prev")).otherwise(st.getField("bold")))
    }
    pairs
      .groupBy("doc_id").agg(sort_array(collect_list(col("old_id"))).as("olds"))
      .select(col("doc_id"), aggregate(
        col("olds"),
        struct(lit(-1L).as("prev"), lit(0L).as("run"), lit(0L).as("n"),
          lit(0L).as("bnb"), lit(-1L).as("bold")),
        (st, x) => when(st.getField("run") > lit(0L) && x === st.getField("prev"),
            struct(st.getField("prev").as("prev"),
              (st.getField("run") + lit(1L)).as("run"),
              st.getField("n").as("n"), st.getField("bnb").as("bnb"),
              st.getField("bold").as("bold")))
          .otherwise(runClosed(st, (n2, bnb2, bold2) =>
            struct(x.as("prev"), lit(1L).as("run"), n2.as("n"),
              bnb2.as("bnb"), bold2.as("bold")))),
        st => runClosed(st, (n2, _, bold2) =>
          struct(n2.as("n_matches"), bold2.as("best_match")))).as("h"))
      .filter(col("h.n_matches") > lit(0L))
      .select(col("doc_id"), col("h.n_matches").as("n_matches"),
        col("h.best_match").as("best_match"))
  }
}
