package graft.operators

import org.apache.spark.sql.DataFrame

/** Rebalances a narrow-scan input before a CPU-bound per-row kernel.
  *
  * Spark's scan parallelism is storage-driven — one task per input split —
  * so a compact parquet file yields ONE split, and every per-row CPU
  * kernel downstream of it (minhash, simhash, rolling-hash chunking,
  * thrift encode, envelope synthesis) runs on one core no matter how wide
  * the cluster is. One cheap round-robin exchange ahead of the kernel
  * buys full-width execution.
  *
  * Conditional on purpose: when the scan already provides at least half
  * the session's shuffle parallelism — the normal case at 100 TB, where
  * inputs arrive as thousands of splits — this is the identity and adds
  * no exchange. The check counts input files (a listing the scan performs
  * anyway), not physical partitions: compiling the physical plan just to
  * read its partition count would cost more driver time per query than
  * the exchange it decides about.
  *
  * Also the identity when the lineage already holds a repartition (or any
  * other shuffle-producing node): a kernel downstream of a Spread-ed
  * source or an aggregation is already full-width, and the file-count
  * heuristic can't see that — `inputFiles` still reports the original
  * scan. Without this check, `encode(payloads(Spread(events)))` paid two
  * stacked round-robin exchanges for one rebalance (r3 plan audit,
  * c_bad_rows/c_thrift_wire).
  *
  * The identity on a streaming plan too: `inputFiles` cannot see a
  * micro-batch's files there, so the count would always read zero and
  * every trigger would pay the exchange. A stream's parallelism is its
  * source's (one task per new file or offset range); a kernel placed in
  * the streaming query, like `CollectorPipeline.route`, stays narrow.
  */
object Spread {
  def apply(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, RepartitionOperation}
    val alreadyWide = df.queryExecution.logical.exists {
      case _: RepartitionOperation | _: Aggregate | _: Join => true
      case _ => false
    }
    if (df.isStreaming || alreadyWide) df
    else {
      val target = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      val files = try df.inputFiles.length catch { case _: Throwable => target }
      if (files * 2 <= target) df.repartition(target) else df
    }
  }
}
