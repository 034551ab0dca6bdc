package graft.streaming

/** R12: atomic append-commit fencing shared by the streaming indexes
  * ([[IncrementalIndex]], [[NearDupIndex]]) — closes the crash window
  * the r11 protocol had between "parquet files appended" and "commit
  * marker written", where a restart would replay with `replay = false`
  * and double-append (ADVICE r11).
  *
  * Protocol per batch:
  *
  *  1. [[beginOrRecover]] — if the COMMIT marker exists the batch is a
  *     replay (mutation is skipped; [[committedFiles]] lists exactly the
  *     files it appended, for index exclusion). Otherwise, a leftover
  *     INTENT marker means a prior attempt crashed mid-append: the live
  *     data-file listing is diffed against the intent's pre-append
  *     snapshot and the orphaned half-commit is DELETED, restoring the
  *     exact pre-append state before anything is read.
  *  2. [[commit]] — writes the intent marker (atomic rename) carrying
  *     the current listing, runs the append, writes the commit marker
  *     (atomic rename) carrying the appended-file diff, then drops the
  *     intent. A crash at ANY point leaves either a recoverable intent
  *     or a completed commit — never an unfenced half-append.
  *
  * R14: every filesystem call goes through [[DurableFs]] (the Hadoop
  * `FileSystem` API), so the identical protocol runs on local disk
  * (today's specs), HDFS (atomic rename by contract), or S3A-style
  * stores — where rename is copy+delete and the safety argument is the
  * conservative-read one spelled out in the [[DurableFs]] scaladoc: a
  * crash mid-rename leaves the marker ABSENT, which every reader
  * treats as not-committed / no-intent, and recovery is idempotent.
  * Marker writes go through a same-directory temp file + rename so a
  * torn marker can't be misread as a (partial) file list.
  */
final class CommitProtocol(dataDir: String, commitsDir: String, batchId: Long) {

  private val commitPath: String = s"$commitsDir/$batchId"
  private val intentPath: String = s"$commitsDir/$batchId.intent"

  private def readMarker(p: String): Set[String] =
    DurableFs.readUtf8(p).split("\n", -1).filter(_.nonEmpty).toSet

  private def writeMarkerAtomic(p: String, names: Set[String]): Unit =
    DurableFs.writeAtomic(p, names.toSeq.sorted.mkString("\n"))

  @volatile private var rolled = false

  /** Did [[beginOrRecover]] delete a half-committed append? (Callers
    * holding cached file listings over `dataDir` must refresh.) */
  def rolledBack: Boolean = rolled

  /** True = this batchId already committed (skip mutation). Side
    * effects: rolls back a crashed half-append (intent without commit)
    * by deleting the orphaned data files; clears a stale intent left by
    * a crash between commit-marker write and intent delete. */
  def beginOrRecover(): Boolean =
    if (DurableFs.exists(commitPath)) {
      DurableFs.deleteIfExists(intentPath)
      true
    } else {
      if (DurableFs.exists(intentPath)) {
        val snapshot = readMarker(intentPath)
        val orphans = CommitProtocol.listParquet(dataDir) -- snapshot
        orphans.foreach(n => DurableFs.deleteIfExists(s"$dataDir/$n"))
        rolled = orphans.nonEmpty
      }
      false
    }

  /** The files this batch appended (valid only when [[beginOrRecover]]
    * returned true). */
  def committedFiles: Set[String] =
    if (DurableFs.exists(commitPath)) readMarker(commitPath) else Set.empty

  /** Fence `append` between the intent and commit markers. */
  def commit(append: => Unit): Unit = {
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

  /** Drop every intent/commit marker under `commitsDir` — MUST run in
    * every index `init`/reset: a re-initialized index that keeps old
    * markers would treat the first re-served batchIds as replays and
    * silently skip their appends (every later duplicate of those docs
    * then passes as new). */
  def resetMarkers(commitsDir: String): Unit =
    DurableFs.deleteTree(commitsDir)

  /** R15 (advisor): roll back every PENDING intent under `commitsDir`
    * before a compaction reads `dataDir`. A batch that crashed
    * mid-commit leaves an intent marker and possibly orphaned appended
    * files; if a compaction folded those orphans into the rewritten
    * store, the batch's eventual replay would diff the live listing
    * against its stale pre-append snapshot and delete the COMPACTED
    * files themselves — total store loss. Recovery here is the same
    * rollback [[CommitProtocol.beginOrRecover]] runs, applied to every
    * pending batch: delete the orphans (live listing minus the
    * intent's snapshot) and drop the intent, restoring the exact
    * pre-append state so the batch re-serves as new. Intents whose
    * commit marker exists are stale leftovers (crash between
    * commit-marker write and intent delete) and are simply dropped.
    * Callers run this "between micro-batches" (every store compact's
    * documented contract), so a pending intent here is necessarily a
    * crash leftover, never an in-flight commit. */
  def recoverPending(dataDir: String, commitsDir: String): Boolean = {
    // r16 (advisor): report whether any orphan was actually deleted so
    // catalog-registered callers (BandStore.compact) can refresh their
    // cached file index before the next scan — a warm InMemoryFileIndex
    // from a pre-rollback probe would otherwise list the just-deleted
    // files and the compaction read would FileNotFoundException.
    var deleted = false
    for (n <- DurableFs.listFiles(commitsDir).filter(_.endsWith(".intent"))) {
      val intentPath = s"$commitsDir/$n"
      if (!DurableFs.exists(s"$commitsDir/${n.stripSuffix(".intent")}")) {
        val snapshot = DurableFs.readUtf8(intentPath)
          .split("\n", -1).filter(_.nonEmpty).toSet
        (listParquet(dataDir) -- snapshot).foreach { o =>
          DurableFs.deleteIfExists(s"$dataDir/$o"); deleted = true
        }
      }
      DurableFs.deleteIfExists(intentPath)
    }
    deleted
  }

  /** Flat listing of the committed parquet files in a directory
    * (Spark's in-flight `_temporary`/dot files excluded). */
  def listParquet(dir: String): Set[String] =
    DurableFs.listFiles(dir)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
      .toSet
}
