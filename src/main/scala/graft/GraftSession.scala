package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session tuning — every main (Verify, Bench,
  * Explain) and a production deployment build through here.
  *
  * Scale rationale (100 TB defaults in comments; local values parameterized):
  *  - AQE on: runtime coalescing + skew-join splitting replaces manual
  *    partition-count tuning per query.
  *  - `shuffle.partitions` ≈ cores locally; on a cluster, 2-3× total
  *    executor cores (AQE coalesces down, it can't split up pre-5.0).
  *  - `maxPartitionBytes` default 128m: at 100 TB that's ~800k input
  *    splits — raise toward 512m for scan-heavy jobs to cut task count.
  *  - graft extensions: native functions (graft_dot) available in SQL.
  *  - unchunked base64: wire parity (chunked CRLF breaks strict decoders).
  *  - `file:` through [[ForkFreeLocalFileSystem]] and [[ForkFreeLocalFs]]:
  *    without the native Hadoop library, Hadoop's local file system falls
  *    back to its `Shell` and starts a `chmod` process per permission set
  *    and a `readlink` per `FileContext` rename — about 30 one after
  *    another on the query thread of every micro-batch (checkpoint logs,
  *    committer dirs) and 4 in every parquet write task. These classes
  *    keep the stock permission bits and `.crc` sidecars but start no
  *    process; other schemes (HDFS, S3A) are untouched.
  *
  * `conf` adds session settings (a test warehouse dir, say).
  */
object GraftSession {
  def build(master: String, shufflePartitions: Int, appName: String = "graft",
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // the default 100-entry janino cache thrashes across a 56-query
      // suite (several codegen stages each) — evictions re-pay multi-second
      // compiles of the biggest projections on every pass
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.chunkBase64String.enabled", "false")
      // duplicate querystring keys (a=1&a=2) are legal HTTP; Spark's
      // default str_to_map policy THROWS on them, which would let one
      // hostile request kill a 100 TB ingest job (found by FuzzSpec).
      // LAST_WIN matches Scala's pairs.toMap (the reference's Query
      // param handling).
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    (ForkFreeLocalFs.hadoopConf.map { case (k, v) => s"spark.hadoop.$k" -> v } ++ conf)
      .foldLeft(b) { case (s, (k, v)) => s.config(k, v) }
      .getOrCreate()
  }
}
