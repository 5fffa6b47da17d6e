package graft.lake

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** What one [[Maintenance.expireSnapshots]] pass reclaimed — returned so a
  * maintenance scheduler or monitoring channel can record retention
  * activity without re-listing the tree it just swept. Each count is of
  * deletes that succeeded, not of deletes attempted.
  */
final case class ExpiryReport(
    snapshotsDeleted: Int,
    groupManifestsDeleted: Int,
    dataFilesDeleted: Int,
    commitDirsReclaimed: Int)

/** Compaction, bucket-count evolution and retention: fenceless maintenance
  * commits, and the orphan rules (which files a concurrent commit may still
  * be about to claim).
  */
private[graft] object Maintenance {

  /** Bin-pack compaction: rewrite every bucket that has more than
    * `maxFilesPerBucket` files — or, with `foldDeltas`, any unresolved
    * merge-on-read delta file — into one LWW-resolved sorted base file per
    * bucket, committed as a metadata-neutral maintenance snapshot (epoch
    * map unchanged). Bounds the read amplification that copy-on-write
    * salting and merge-on-read deltas accumulate on hot buckets; also
    * drops tombstones older than `dropTombstonesBelowLsn` (safe once the
    * out-of-order window for those LSNs has certainly passed). Folding all
    * deltas restores the exact manifest live-row count ([[Commit.commit]]
    * row accounting). The rewrite is one Spark job after one shuffle: LWW
    * resolves inside the bucket exchange the write needs
    * ([[Writer.resolveIntoBuckets]]), with ≤ `spark.sql.shuffle.partitions` write tasks.
    */
  def compact(t: LakeTable, maxFilesPerBucket: Int, dropTombstonesBelowLsn: Long,
      foldDeltas: Boolean): CommitResult = {
    val cur = t.current
    val byBucket = cur.files.groupBy(_.bucket)
    val fat = byBucket.filter { case (_, fs) =>
      fs.size > maxFilesPerBucket ||
        (foldDeltas && fs.exists(_.kind == FileEntry.Delta))
    }.keySet
    if (fat.isEmpty) return CommitResult(cur, applied = false)
    var df = Writer.resolveIntoBuckets(t, t.readConformed(cur, Some(fat)), cur.schemaVer,
      cur.numBuckets, Writer.writeTasks(t.spark, fat.size))
    // after the resolve: a dropped tombstone must not let an older live
    // version of its key win instead
    if (dropTombstonesBelowLsn >= 0)
      df = df.filter(!col("_deleted") || col("_lsn") >= dropTombstonesBelowLsn)
    val files = t.writeDataFiles(df, cur.schemaVer)
    t.commit(files, fat, epochId = -1, schemaVer = cur.schemaVer,
      maxLsnSeen = cur.maxLsn, baseSnapshotId = cur.id)
  }

  /** Change the table's bucket count — the scale-lifecycle operation a
    * fixed-at-creation B would otherwise cap (a table that starts at 64
    * buckets and grows toward 100 TB needs 4096: per-bucket CoW rewrite
    * volume, file counts, and merge parallelism all key off B). One full
    * resolved rewrite (every row re-routes through the bucket transform —
    * there is no cheaper correct path: the bucket function changes for
    * every key), committed as ONE maintenance snapshot: readers see the
    * old layout until the commit lands, a crash leaves the old snapshot
    * intact, and a concurrent committer conflicts LOUDLY (the rebucket's
    * write set is every bucket). Unresolved merge-on-read deltas fold in
    * (LWW resolves inside the new-bucket exchange, [[Writer.resolveIntoBuckets]]
    * — the one shuffle of the rewrite); tombstones are preserved, and the
    * commit regroups the file list under the new layout. Incremental
    * consumers must re-baseline: [[LakeTable.readChangesSince]] windows
    * cannot span a bucket-count change (it rejects them), matching
    * Iceberg's own partition-spec evolution caveat for changelog reads.
    */
  def rebucket(t: LakeTable, newNumBuckets: Int): CommitResult = {
    require(newNumBuckets > 0, s"bucket count must be positive: $newNumBuckets")
    val cur = t.current
    if (newNumBuckets == cur.numBuckets) return CommitResult(cur, applied = false)
    val files = t.writeDataFiles(Writer.resolveIntoBuckets(t, t.readConformed(cur, None),
      cur.schemaVer, newNumBuckets, Writer.writeTasks(t.spark, newNumBuckets)), cur.schemaVer)
    t.commit(files, (0 until cur.numBuckets).toSet, epochId = -1,
      schemaVer = cur.schemaVer, maxLsnSeen = cur.maxLsn,
      baseSnapshotId = cur.id, newNumBuckets = Some(newNumBuckets))
  }

  /** Expire all but the last `keepLast` snapshots and GC data files no kept
    * snapshot references (reference analog: staging purge / retention,
    * Scripts/ETL_Framework_Implementation.sql:445-485).
    *
    * @param orphanGraceMs age floor for ORPHAN deletion (group manifests /
    *                      data files referenced by no kept snapshot). A
    *                      concurrent committer writes its data files and
    *                      group manifests BEFORE it publishes `snap-N`, so
    *                      an expiry running in that window sees them as
    *                      orphans — deleting them would corrupt the commit
    *                      the moment it lands. Files younger than the
    *                      grace are skipped (a published snapshot needs no
    *                      grace: its manifest is listed, so its refs and
    *                      files are already live here). Publish temps a
    *                      crashed committer left in `_meta` go by the same
    *                      age floor.
    *                      Single-writer maintenance (tests, in-replay GC)
    *                      passes 0 for immediate reclamation.
    * @param olderThanMs   TIME-BASED retention (Iceberg's
    *                      `expireSnapshots(olderThan)` shape; reference
    *                      analog: DATEADD-cutoff purge,
    *                      Scripts/ETL_Framework_Implementation.sql:445-485):
    *                      a snapshot younger than this age is KEPT even
    *                      beyond `keepLast`, so the retention contract for
    *                      incremental consumers ([[LakeTable.readChangesSince]],
    *                      [[LakeTable.readAt]]) is expressible in time units — "any
    *                      baseline taken in the last 7 days stays
    *                      readable" — which is how changelog consumers
    *                      reason, not in snapshot counts. Age is the
    *                      manifest file's mtime (the commit's publish
    *                      instant). Negative (default) = count-based
    *                      retention only, the pre-existing behavior.
    */
  def expireSnapshots(t: LakeTable, keepLast: Int, orphanGraceMs: Long,
      olderThanMs: Long): ExpiryReport = {
    val fs = t.fs
    val metaDir = t.metaDir
    val ids = t.snapshotIds
    val curId = t.current.id
    val youngEnough: Set[Long] =
      if (olderThanMs < 0L) Set.empty
      else {
        val ageCutoff = System.currentTimeMillis() - olderThanMs
        fs.listStatus(metaDir).filter(_.getModificationTime >= ageCutoff)
          .flatMap(st => Manifest.snapId(st.getPath.getName)).toSet
      }
    val keep = ids.filter(_ >= curId - keepLast + 1).toSet ++ youngEnough + curId
    val keptSnaps = keep.toSeq.map(t.snapshot)
    val live: Set[String] = keptSnaps.flatMap(_.files.map(_.path)).toSet
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    // The report counts outcomes: a delete that returns false (already
    // gone, e.g. a racing expiry) reclaimed nothing and is not counted.
    // delete dead snapshot manifests (id-based: never younger than kept)
    val snapsDeleted = ids.filterNot(keep).count(id => fs.delete(t.snapPath(id), false))
    // delete group manifests no kept snapshot references (expired
    // snapshots' groups + orphans from lost commit-claim races), unless
    // young enough to be an in-flight commit's pre-claim write; publish
    // temps a crash leaked go by the same grace
    val liveRefs: Set[String] = keptSnaps.flatMap(_.groupRefs.map(_.path)).toSet
    val oldMeta = fs.listStatus(metaDir).filter(_.getModificationTime < cutoff).map(_.getPath)
    val refsDeleted = oldMeta.filter(p => Manifest.isGroupManifest(p.getName) &&
      !liveRefs.contains(p.getName)).count(fs.delete(_, false))
    oldMeta.filter(_.getName.startsWith(Commit.PublishTempPrefix)).foreach(fs.delete(_, false))
    // delete orphan data files, same grace
    var dirsReclaimed = 0
    var filesDeleted = 0
    val dataDir = new Path(t.root, "data")
    if (fs.exists(dataDir)) {
      val it = fs.listFiles(dataDir, true)
      val dead = mutable.ArrayBuffer[Path]()
      val liveCommitDirs = mutable.Set[String]()
      // The commit dir is the path segment directly under data/ — walk up
      // to it rather than a fixed number of levels, because an IN-FLIGHT
      // write's files sit deeper (c<ts>/_temporary/.../part-*.parquet) and
      // must still protect their commit dir from the sweep below.
      def commitDirOf(p: Path): String = {
        var d = p.getParent
        var name: String = null
        while (d != null && d.getName != "data") { name = d.getName; d = d.getParent }
        name
      }
      while (it.hasNext) {
        val st = it.next()
        val p = st.getPath
        if (p.getName.endsWith(".parquet")) {
          if (!live.contains(p.toString) && st.getModificationTime < cutoff) dead += p
          else {
            val cd = commitDirOf(p) // live, or a young possibly-in-flight orphan
            if (cd != null) liveCommitDirs += cd
          }
        }
      }
      filesDeleted = dead.count(p => fs.delete(p, false))
      // Reclaim EMPTIED commit directories: every writeDataFiles call
      // creates one c<ts>-<uuid> dir, so without this the data/ tree
      // grows by one dir per epoch forever and each expiry's recursive
      // listing walks an unbounded graveyard (an object store pays a
      // LIST per prefix). A dir is deletable once it holds no live and no
      // young (possibly in-flight) file and it predates the grace cutoff;
      // a dir whose files were deleted JUST NOW has a refreshed mtime on
      // POSIX and is reclaimed by the next expiry instead — one cycle
      // late, never wrongly. A `_temporary` child marks an IN-FLIGHT
      // write that has produced no part files yet — mtime alone cannot
      // protect it (orphanGraceMs=0 maintenance, object stores with
      // synthetic dir mtimes), so its presence vetoes deletion outright.
      def inFlight(d: Path): Boolean =
        try fs.listStatus(d).exists(_.getPath.getName == "_temporary")
        catch { case _: java.io.FileNotFoundException => false }
      fs.listStatus(dataDir).foreach { st =>
        if (st.isDirectory && !liveCommitDirs.contains(st.getPath.getName) &&
          st.getModificationTime < cutoff && !inFlight(st.getPath) &&
          fs.delete(st.getPath, true))
          dirsReclaimed += 1
      }
    }
    ExpiryReport(snapsDeleted, refsDeleted, filesDeleted, dirsReclaimed)
  }
}
