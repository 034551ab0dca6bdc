package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** The ONE durable store under every streaming index ([[IncrementalIndex]],
  * [[NearDupIndex]], [[CodeDupIndex]] and its image/audio bindings,
  * [[VideoDupIndex]], [[SubstrIndex]], [[ClfStream]], [[BudgetStream]]):
  * an append-only relation under `<root>/<data>/` whose every row carries
  * the `batch_id` that appended it, plus the commit markers under
  * `<root>/commits/`. Each index keeps only its schema, its initial rows,
  * its probe and its verdicts; every durability decision lives here.
  *
  * Two layouts, and the store branches only on which:
  *
  *  - **bucketed** — an external parquet table CLUSTERED BY `band_val`,
  *    registered in the session catalog under `<prefix>_<md5(root)>` so a
  *    restarted session re-binds to the same files and bucket spec. An
  *    append pays the bucket shuffle once; a probe join keyed on
  *    `band_val` then plans ZERO index-side exchange (StreamingSpec pins
  *    it for every bucketed store). The rewrite width is the bucket count.
  *  - **plain** — parquet files read through the committed-file listing;
  *    the rewrite width is a per-store constant.
  *
  * Replay. A micro-batch [[open]]s the store: a committed batch id is a
  * REPLAY ([[DurableStore.Batch.replay]]) whose commit is a no-op, and
  * its verdicts recompute against the rows of every OTHER batch
  * ([[DurableStore.Batch.prior]]) — identical to the original run's even
  * though the store already holds its rows, and identical across
  * compactions, because the rewrite keeps rows with their batch_ids.
  *
  * Crash. [[DurableStore.Batch.commit]] fences the append between an
  * INTENT marker (the pre-append file listing) and a COMMIT marker (the
  * appended files), both written by atomic rename ([[CommitProtocol]]).
  * A crash between the two leaves the intent: the next [[open]] of that
  * batch deletes the orphaned files (live listing minus the intent's
  * snapshot) before anything is read, so the batch re-runs against the
  * exact pre-append state and never double-appends. [[reset]] clears the
  * markers too: a re-initialized store that kept them would treat the
  * first re-served batch ids as replays and silently skip their appends.
  *
  * Swap. [[compact]] first rolls back every pending intent (folding an
  * orphan into the rewrite would make that batch's later recovery delete
  * the compacted files themselves), then STAGES the rewrite to
  * `<data>.compacting` while the live files keep serving, and swaps it in
  * by two renames (live → `<data>.old`, staged → live). A crash before
  * the swap leaves the original serving; a crash between the renames
  * leaves a complete `.old` copy that the next [[open]] or [[compact]]
  * restores first. Markers are KEPT: they record which batch ids already
  * served. Compaction runs between micro-batches (serve loops are
  * synchronous), so a pending intent there is always a crash leftover.
  *
  * Backend. Every file operation goes through [[DurableFs]] (the Hadoop
  * `FileSystem` API): atomic rename on local disk and HDFS. On an object
  * store whose rename is copy + delete the markers stay safe — a crash
  * mid-rename leaves the destination marker absent, which every reader
  * treats as "not committed" / "no intent", and every recovery is
  * idempotent — but the compaction swap briefly exposes a missing live
  * directory, so such a deployment needs a versioned-prefix layout or
  * the store's conditional put for the swap. */
final class DurableStore private (root: String, data: String, ddl: String,
                                  val width: Int, table: Option[String]) {

  private val schema = StructType.fromDDL(ddl)
  val dataDir: String = s"$root/$data"
  val commitsDir: String = s"$root/commits"
  private def staging = s"$dataDir.compacting"
  private def old = s"$dataDir.old"

  /** Clear the markers, drop the table, delete the tree, and write the
    * initial rows (stamped batch_id −1, pre-stream). */
  def reset(initial: DataFrame): Unit = {
    DurableFs.deleteTree(commitsDir)
    table.foreach(t => initial.sparkSession.sql(s"DROP TABLE IF EXISTS $t"))
    DurableFs.deleteTree(dataDir)
    write(initial.withColumn("batch_id", lit(-1L)), SaveMode.Overwrite, dataDir, table)
  }

  /** An empty relation of the store's schema. */
  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), schema)

  /** Open micro-batch `batchId`: restore a mid-swap `.old` copy, bind the
    * table, roll back a crashed half-append of this batch (refreshing the
    * table's cached listing when files went away), and read the committed
    * rows. */
  def open(spark: SparkSession, batchId: Long): DurableStore.Batch = {
    ensure(spark)
    val proto = CommitProtocol(dataDir, commitsDir, batchId)
    val replay = proto.beginOrRecover()
    if (proto.rolledBack) refresh(spark)
    new DurableStore.Batch(this, proto, batchId, replay, read(spark))
  }

  /** Every committed row: the catalog table when bucketed, the
    * committed-file listing otherwise (empty when nothing is committed). */
  def rows(spark: SparkSession): DataFrame = { ensure(spark); read(spark) }

  /** The committed parquet file names under [[dataDir]]. */
  def files: Set[String] = CommitProtocol.listParquet(dataDir)

  /** Rewrite the accreted append files into [[width]] files (one per
    * bucket when bucketed) — same rows, same batch_ids, markers kept. */
  def compact(spark: SparkSession): Unit = {
    ensure(spark)
    if (CommitProtocol.recoverPending(dataDir, commitsDir)) refresh(spark)
    DurableFs.deleteTree(staging); DurableFs.deleteTree(old)
    // bucketBy requires saveAsTable, so a bucketed rewrite stages under a
    // throwaway catalog name (external → DROP keeps the files)
    val tmp = table.map(_ + "_compacting")
    tmp.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // keep the rewrite's SCAN bucketed: its HashPartitioning already
    // satisfies the repartition, so the rewrite is `width` tasks with
    // zero shuffle — unless DisableUnnecessaryBucketedScan un-buckets the
    // scan first (scattering each bucket across split-sized tasks and
    // multiplying output files)
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAuto = spark.conf.getOption(autoKey)
    spark.conf.set(autoKey, "false")
    try write(compactionPlan(spark), SaveMode.Overwrite, staging, tmp)
    finally prevAuto match {
      case Some(v) => spark.conf.set(autoKey, v)
      case None => spark.conf.unset(autoKey)
    }
    tmp.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    DurableFs.move(dataDir, old)
    DurableFs.move(staging, dataDir)
    refresh(spark)
    DurableFs.deleteTree(old)
  }

  /** The compaction policy serve loops call between micro-batches:
    * compact only past `maxFiles` committed files (one listing when idle).
    * Returns whether a compaction ran. */
  def maybeCompact(spark: SparkSession, maxFiles: Int): Boolean =
    files.size > maxFiles && { compact(spark); true }

  /** The relation [[compact]] rewrites. Bucketed: `repartition(width,
    * band_val)` uses the bucket spec's Murmur3-pmod hash, so each of the
    * `width` tasks holds exactly one bucket and writes one file, and over
    * the bucketed scan the executed rewrite plans no exchange at all. */
  private[graft] def compactionPlan(spark: SparkSession): DataFrame =
    if (table.isDefined) rows(spark).repartition(width, col(DurableStore.Key))
    else rows(spark).repartition(width)

  /** Drop the table's cached file listing (no-op for plain stores). */
  private[graft] def refresh(spark: SparkSession): Unit =
    table.foreach(spark.catalog.refreshTable)

  /** Unfenced append of rows that already carry their batch_id. */
  private[graft] def append(rows: DataFrame): Unit =
    write(rows, SaveMode.Append, dataDir, table)

  private def ensure(spark: SparkSession): Unit = {
    if (!DurableFs.isDirectory(dataDir) && DurableFs.isDirectory(old))
      DurableFs.move(old, dataDir)
    table.foreach(t => spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $t ($ddl)
         |USING PARQUET
         |CLUSTERED BY (${DurableStore.Key}) SORTED BY (${DurableStore.Key}) INTO $width BUCKETS
         |LOCATION '$dataDir'""".stripMargin))
  }

  private def read(spark: SparkSession): DataFrame = table match {
    case Some(t) => spark.table(t)
    case None =>
      val paths = files.toSeq.sorted.map(n => s"$dataDir/$n")
      if (paths.isEmpty) empty(spark) else spark.read.schema(schema).parquet(paths: _*)
  }

  private def write(rows: DataFrame, mode: SaveMode, path: String, as: Option[String]): Unit = {
    val w = rows.select(schema.fieldNames.toIndexedSeq.map(col): _*).write.mode(mode)
    as match {
      case Some(t) =>
        w.bucketBy(width, DurableStore.Key).sortBy(DurableStore.Key)
          .option("path", path).saveAsTable(t)
      case None => w.parquet(path)
    }
  }
}

object DurableStore {

  private val Key = "band_val"

  /** Plain parquet under `<root>/<data>`, rewritten into `width` files. */
  def plain(root: String, data: String, ddl: String, width: Int): DurableStore =
    new DurableStore(root, data, ddl, width, None)

  /** A catalog table under `<root>/<data>` bucketed on `band_val` into
    * `buckets`, named after `prefix` and the md5 of `root` so concurrent
    * stores in one session don't collide. */
  def bucketed(root: String, data: String, ddl: String, buckets: Int,
               prefix: String): DurableStore = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(root.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    new DurableStore(root, data, ddl, buckets, Some(s"${prefix}_$h"))
  }

  /** One opened micro-batch: whether it is a replay, the committed rows
    * as of the open, and the fenced commit. */
  final class Batch private[DurableStore] (store: DurableStore, proto: CommitProtocol,
      batchId: Long, val replay: Boolean, val rows: DataFrame) {

    /** The rows of every other batch — the replay exclusion. */
    def prior: DataFrame = rows.filter(col("batch_id") =!= lit(batchId))

    /** Append `appended` stamped with this batch_id, and run `inFence`
      * inside the same intent/commit fence. A no-op on replay. */
    def commit(appended: DataFrame, inFence: => Unit = ()): Unit =
      if (!replay) proto.commit {
        store.append(appended.withColumn("batch_id", lit(batchId)))
        inFence
      }
  }
}

/** The intent/commit fence of one store batch ([[DurableStore]] has the
  * argument) or one file-sink batch ([[graft.sinks.ParquetDirSink]]).
  * [[beginOrRecover]]: a COMMIT marker means replay (and a stale intent
  * beside it is dropped); an INTENT without one means a crashed
  * half-append, whose orphans — the live listing minus the intent's
  * snapshot — are deleted. [[commit]]: intent marker carrying
  * the current listing, the append, commit marker carrying the appended
  * files, intent dropped. Markers are written temp-then-rename, so a torn
  * marker is never read as a (partial) file list. */
final class CommitProtocol(dataDir: String, commitsDir: String, batchId: Long) {

  private val commitPath: String = s"$commitsDir/$batchId"
  private val intentPath: String = s"$commitsDir/$batchId.intent"

  private def writeMarkerAtomic(p: String, names: Set[String]): Unit =
    DurableFs.writeAtomic(p, names.toSeq.sorted.mkString("\n"))

  @volatile private var rolled = false

  /** Did [[beginOrRecover]] delete a half-committed append? */
  def rolledBack: Boolean = rolled

  /** True = this batchId already committed (skip mutation). */
  def beginOrRecover(): Boolean =
    if (DurableFs.exists(commitPath)) {
      DurableFs.deleteIfExists(intentPath)
      true
    } else {
      if (DurableFs.exists(intentPath))
        rolled = CommitProtocol.rollBack(dataDir, intentPath)
      false
    }

  /** The files this batch appended (empty unless committed). */
  def committedFiles: Set[String] =
    if (DurableFs.exists(commitPath)) CommitProtocol.readMarker(commitPath) else Set.empty

  /** Did this batch's fence open: is its intent or commit marker there? */
  def opened: Boolean = DurableFs.exists(commitPath) || DurableFs.exists(intentPath)

  /** Fence `append` between the intent and commit markers. A job killed
    * mid-append leaves its committed task output in `_temporary`, where
    * the next job commit would merge it in; it is cleared first. */
  def commit(append: => Unit): Unit = {
    DurableFs.deleteTree(s"$dataDir/_temporary")
    val before = CommitProtocol.listParquet(dataDir)
    writeMarkerAtomic(intentPath, before)
    append
    writeMarkerAtomic(commitPath, CommitProtocol.listParquet(dataDir) -- before)
    DurableFs.deleteIfExists(intentPath)
  }
}

object CommitProtocol {
  def apply(dataDir: String, commitsDir: String, batchId: Long): CommitProtocol =
    new CommitProtocol(dataDir, commitsDir, batchId)

  private def readMarker(p: String): Set[String] =
    DurableFs.readUtf8(p).split("\n", -1).filter(_.nonEmpty).toSet

  /** Delete the orphans of the intent at `intentPath`; true if any. */
  private def rollBack(dataDir: String, intentPath: String): Boolean = {
    val orphans = listParquet(dataDir) -- readMarker(intentPath)
    orphans.foreach(n => DurableFs.deleteIfExists(s"$dataDir/$n"))
    orphans.nonEmpty
  }

  /** Roll back every PENDING intent under `commitsDir` (the rollback
    * [[CommitProtocol.beginOrRecover]] runs, for every batch) and drop
    * every intent; intents whose commit marker exists are stale leftovers
    * and are only dropped. Returns whether any orphan was deleted, so a
    * catalog-bound caller refreshes its cached listing before reading. */
  def recoverPending(dataDir: String, commitsDir: String): Boolean = {
    var deleted = false
    for (n <- DurableFs.listFiles(commitsDir).filter(_.endsWith(".intent"))) {
      val intentPath = s"$commitsDir/$n"
      if (!DurableFs.exists(s"$commitsDir/${n.stripSuffix(".intent")}"))
        deleted = rollBack(dataDir, intentPath) || deleted
      DurableFs.deleteIfExists(intentPath)
    }
    deleted
  }

  /** The committed parquet files under a directory, as paths relative to
    * it: partition subdirectories are walked; Spark's hidden `_`/`.` paths
    * (in-flight `_temporary`, fence markers) are not. */
  def listParquet(dir: String): Set[String] =
    DurableFs.listVisible(dir).filter(_.endsWith(".parquet")).toSet
}
