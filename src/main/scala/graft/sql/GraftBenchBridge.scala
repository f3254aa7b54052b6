package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Bench-only access to [[GraftTables]] internals (the object is
 * `private[sql]`; the benchmark main lives in `graft`):
 *  - raw delta commits, so deep-log fixtures (the 1000-commit reopen
 *    lane) build through the REAL claimed-delta protocol without
 *    paying 1000 SQL statement rewrites;
 *  - the reopen-cost observability counters behind the
 *    checkpoint-manifest gauges.
 */
object GraftBenchBridge {

  /** One upsert delta through the full optimistic-commit path
    * (stage → claim → promote → apply → fold maintenance). */
  def commitUpsert(sp: SparkSession, path: String, up: DataFrame): Unit =
    GraftTables.commitChange(sp, path, truncate = false, None, Some(up))

  /** The persisted commit stamp (epoch millis) of table version `v`
    * (> the first readable version) — lane fixtures aim their
    * `startingTimestamp` with it. */
  def commitStamp(sp: SparkSession, path: String, v: Long): Long = {
    val first = GraftTables.tableFirstVersion(sp, path)
    GraftTables.deltaTimes(sp, path)((v - first - 1).toInt)
  }

  /** Distinct probed list ids of the last vector-index batch probe —
    * the bounded-scan gauge behind micro_ann_batch_churned_30. */
  def lastBatchProbedLists: Int = GraftVectorIndex.lastBatchProbedLists

  /** (lastScanKind, lastZoneKept) of the table's live SINGLE-KEY
    * handle — how its most recent scan was served and how many
    * partitions/z-cells it kept (the value-z-order pruning gauge). */
  def h1ScanInfo(sp: SparkSession, path: String): (String, Int) = {
    val h = GraftTables.current(sp, path)._2.handleAny
      .asInstanceOf[IndexedFrame.Handle[_]]
    (h.lastScanKind, h.lastZoneKept)
  }

  /** Re-pin the table's live index DISK_ONLY — bench fixtures use it
    * to model the 100 TB cold-corpus shape (a real cluster cannot hold
    * the fact table in memory), exactly like the direct-handle disk
    * micros. */
  def pinDiskOnly(sp: SparkSession, path: String): Unit = {
    val idx = GraftTables.current(sp, path)._2.idxAny
    idx.unpersist()
    idx.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    idx.count()
    ()
  }

  /** The composite-key twin of [[h1ScanInfo]]. */
  def compositeNScanInfo(sp: SparkSession, path: String): (String, Int) = {
    val h = GraftTables.current(sp, path)._2.handleAny
      .asInstanceOf[IndexedFrame.CompositeNHandle]
    (h.lastScanKind, h.lastZoneKept)
  }

  /** The table version its persisted z sort projection was built at
    * (None = no projection) — the auto-rebuild observability gauge:
    * `currentVersion - zprojVersion` IS the overlay depth a boxed scan
    * pays. */
  def zprojVersion(sp: SparkSession, path: String): Option[Long] =
    GraftTables.readZProjMeta(sp, path).map(_._1)

  /** Current committed version of the table's on-disk log. */
  def currentVersion(sp: SparkSession, path: String): Long =
    GraftTables.diskVersion(sp, path)

  /** Swap the z-projection auto-rebuild threshold (bench/spec dial);
    * returns the previous value so callers restore it. */
  def setZprojRebuildAfter(n: Int): Int = {
    val old = GraftTables.zprojRebuildAfter
    GraftTables.zprojRebuildAfter = n
    old
  }

  /** Size of the checkpointed log manifest on disk (0 when absent) —
    * the retention gauge: with fold-covered versions pruned the blob
    * is O(K log_K n), so it must stay ~flat as the commit count grows
    * (reopen_200 vs reopen_1000). */
  def manifestBytes(sp: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path, "_tmanifest")
    val fs = p.getFileSystem(sp.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getFileStatus(p).getLen else 0L
  }

  /** Per-version records the manifest still carries (uncovered tail
    * only, post-retention). */
  def manifestMetaCount(sp: SparkSession, path: String): Int =
    GraftTables.readManifestPublic(sp, path).map(_._2).getOrElse(0)

  /** Drain the background fold-maintenance queue — the determinism
    * barrier before asserting on fold/manifest state right after a
    * commit burst. */
  def awaitFolds(): Boolean = GraftTables.awaitFolds()

  /** Per-version `_meta` reads paid by the most recent replay-cover
    * computation (a cold reopen's metadata cost). */
  def coverMetaReads: Int = GraftTables.lastCoverMetaReads

  /** Whether the most recent replay cover was served by the
    * checkpointed `_tmanifest` (vs the full listing walk). */
  def coverUsedManifest: Boolean = GraftTables.lastCoverUsedManifest
}
