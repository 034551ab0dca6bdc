package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** CONTINUOUS token-budget admission at the ingest edge — the streaming
  * form of [[graft.operators.Sampling.tokenBudget]]'s budget gate: a
  * corpus build with a fixed training-token target admits arriving docs
  * until the budget is spent, then closes the gate for good. Batch
  * selection can rank the whole corpus by quality first; a stream
  * cannot reorder the future, so the streaming semantics is admission
  * in a DEFINED deterministic order — (hash bucket, doc_id) within each
  * micro-batch, micro-batches in arrival order — which is exactly what
  * the LAW spec replays sequentially.
  *
  * Durable state is a token LEDGER, not a counter cell: `ledger/` holds
  * one `(tok, batch_id)` row appended per served batch, and the spent
  * total is its fold. The log form is what makes replay exact — a
  * re-served batch reconstructs the total as of BEFORE itself by
  * folding only `batch_id < its own` (strictly-before, the gradient-log
  * discipline sharpened: exclusion-by-inequality would also shed any
  * later rows, so out-of-order replays stay honest too). The ledger is
  * a plain [[DurableStore]] (`tok, batch_id` rows, rewritten into 1
  * file).
  *
  * LAW (spec-pinned): serving the corpus as N ordered micro-batches IS
  * the sequential PER-BATCH PREFIX admission over admitted-so-far —
  * each batch runs the prefix rule in (bucket, doc_id) order on top of
  * the tokens prior batches actually ADMITTED. Rejected tokens never
  * charge the budget (only the ledger's admitted rows fold into
  * `prior`), so after a straddling batch a later batch may still admit
  * small docs into the remaining slack; total admitted can therefore
  * approach the budget from below but never exceed it.
  *
  * At 100 TB: the per-batch work is one narrow token-count pass over
  * the batch plus the [[graft.operators.Sampling.tokenBudget]]
  * two-stage prefix sums (the only unpartitioned window reads the
  * ≤ 16-row per-bucket aggregate; per-doc windows partition on the
  * bucket), and the ledger grows ONE row per batch — the fold is
  * batches × 1 rows, aged like any append-only changelog. */
object BudgetStream {

  final case class BudgetConfig(dir: String, budget: Long) {
    def store: DurableStore =
      DurableStore.plain(dir, "ledger", "tok BIGINT, batch_id BIGINT", width = 1)
  }

  /** Fresh gate: an empty ledger. */
  def init(spark: SparkSession, cfg: BudgetConfig): Unit =
    cfg.store.reset(cfg.store.empty(spark))

  /** Tokens admitted so far — the ledger fold (1 row). */
  def spent(spark: SparkSession, cfg: BudgetConfig): DataFrame =
    cfg.store.rows(spark).agg(coalesce(sum("tok"), lit(0L)).as("tok"))

  /** Serve one micro-batch of docs `(doc_id, text, …)`: returns
    * `(doc_id, n_tokens, cum, kept)` — kept iff the running admitted
    * total through this doc (in (bucket, doc_id) order, on top of all
    * strictly-earlier batches) stays within the budget — then commits
    * this batch's admitted-token row unless the batchId already
    * committed (replay). Call from `foreachBatch`. */
  def serveBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                 cfg: BudgetConfig): DataFrame = {
    val store = cfg.store.open(spark, batchId)
    // spent-before-me: fold of strictly-earlier batches only, so a
    // replayed batch sees exactly the total the original saw
    val prior = store.rows.filter(col("batch_id") < lit(batchId))
      .agg(coalesce(sum("tok"), lit(0L)).as("prior_tok"))
    val base = batch
      .select(col("doc_id"),
        TextOps.nTokens(col("text")).cast("long").as("n_tokens"),
        substring(md5(concat(lit("budget1:"), col("doc_id"))), 1, 1).as("sb"))
      .where(col("n_tokens") >= 1)
    val grp = base.groupBy("sb").agg(sum("n_tokens").as("g_tok"))
    val wPrefix = Window.orderBy(col("sb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pref = grp
      .withColumn("pfx", sum("g_tok").over(wPrefix) - col("g_tok"))
      .select("sb", "pfx")
    val wIn = Window.partitionBy("sb").orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // pin BEFORE the ledger this plan read mutates
    val verdicts = base.join(pref, Seq("sb"))
      .withColumn("bcum", col("pfx") + sum("n_tokens").over(wIn))
      .crossJoin(broadcast(prior))
      .select(col("doc_id"), col("n_tokens"),
        (col("prior_tok") + col("bcum")).as("cum"),
        (col("prior_tok") + col("bcum") <= cfg.budget).as("kept"))
      .localCheckpoint()
    store.commit(verdicts.filter(col("kept"))
      .agg(coalesce(sum("n_tokens"), lit(0L)).as("tok")))
    verdicts
  }
}
