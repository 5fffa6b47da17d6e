package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.MergeApply
import graft.lake.{ExpiryReport, LakeTable}
import graft.model.Model

/** `file:` FileSystem whose deletes all fail (return false), as a delete
  * does when the path is already gone or cannot be removed.
  */
class RefusingDeleteFileSystem extends LocalFileSystem {
  override def delete(p: Path, recursive: Boolean): Boolean = false
}

/** `file:` FileSystem on which every listing of a table's `_meta` races an
  * expiry: the oldest snapshot manifest is deleted right after it is
  * listed.
  */
class RacingExpiryFileSystem extends LocalFileSystem {
  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    val st = super.listStatus(p)
    if (p.getName == "_meta")
      st.map(_.getPath).filter(_.getName.startsWith("snap-")).sortBy(_.getName)
        .headOption.foreach(super.delete(_, false))
    st
  }
}

/** Time-based snapshot retention: `expireSnapshots(olderThanMs)` keeps
  * every snapshot younger than the age even beyond `keepLast`, so the
  * changelog/time-travel retention contract is expressible in time units
  * (reference analog: DATEADD-cutoff purge,
  * Scripts/ETL_Framework_Implementation.sql:445-485).
  */
class ExpirySpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(8, appName = "expiry-spec")

  private val ts = new java.sql.Timestamp(1704067200000L)
  private def ev(lsn: Long, conv: String, turn: Int) =
    Model.ChangeEvent(lsn, "I", 2, conv, turn, Some("user"), Some(s"t$lsn"), None, Some(ts))

  private def commitBatch(table: LakeTable, epoch: Long): Unit = {
    import spark.implicits._
    val df = spark.createDataset((0 until 20).map(i =>
      ev(epoch * 100 + i, s"conv-${i % 5}", i % 4 + 1))).toDF()
    assert(MergeApply.applyBatch(table, df, epochId = epoch).applied)
  }

  private def ageManifest(root: String, id: Long, ageMs: Long): Unit = {
    val f = new java.io.File(s"$root/_meta", f"snap-$id%010d.json")
    assert(f.exists())
    assert(f.setLastModified(System.currentTimeMillis() - ageMs))
  }

  test("history lists retained snapshots with lineage, maintenance flag, and shrinks with expiry") {
    val root = Files.createTempDirectory("graft-expiry-").toString
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4)
    commitBatch(table, 0L)
    // merge-on-read epoch: appends deltas, so the compaction below has
    // real fold work (two CoW epochs leave one file per bucket — no-op)
    import spark.implicits._
    val df = spark.createDataset((0 until 20).map(i =>
      ev(100L + i, s"conv-${i % 5}", i % 4 + 1))).toDF()
    assert(MergeApply.applyBatch(table, df, epochId = 1L,
      strategy = graft.cdc.WriteStrategy.MergeOnRead).applied)
    assert(table.compact(foldDeltas = true).applied)
    val h = table.history.orderBy("snapshot_id").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L), "ids 0..3 retained")
    // lineage: each row's parent is the previous id (create's parent is -1)
    assert(h.map(_.getLong(1)).toSeq == Seq(-1L, 0L, 1L, 2L))
    // the compaction row is flagged maintenance and carries epoch 1 forward
    val maint = h.last
    assert(maint.getBoolean(maint.fieldIndex("is_maintenance")))
    assert(maint.getLong(maint.fieldIndex("epoch_id")) == 1L)
    assert(h.forall(r => !r.isNullAt(r.fieldIndex("committed_at"))))
    val report = table.expireSnapshots(keepLast = 1, orphanGraceMs = 0L)
    assert(table.history.count() == 1L)
    // the report reflects the sweep: 3 of 4 snapshots dropped, and the
    // compaction-replaced data files actually left the tree
    assert(report.snapshotsDeleted == 3, report.toString)
    assert(report.dataFilesDeleted > 0, report.toString)
  }

  test("age-based retention keeps young snapshots beyond keepLast, drops old ones") {
    val root = Files.createTempDirectory("graft-expiry-").toString
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4)
    (0L to 3L).foreach(commitBatch(table, _)) // snapshots 1..4, current = 4
    assert(table.snapshotIds == Seq(0L, 1L, 2L, 3L, 4L))

    // snapshots 0-2 are "a week old"; 3 and 4 are fresh
    (0L to 2L).foreach(ageManifest(root, _, 7L * 24 * 3600 * 1000))

    // count-based alone would keep only snapshot 4; the age clause must
    // additionally keep fresh snapshot 3
    table.expireSnapshots(keepLast = 1, orphanGraceMs = 0L,
      olderThanMs = 24L * 3600 * 1000)
    assert(table.snapshotIds == Seq(3L, 4L))

    // the young survivor stays fully readable (its data files were kept)
    assert(table.readAt(3L).count() == 20L)
    assert(table.read().count() == 20L)

    // aging snapshot 3 out and expiring again drops it
    ageManifest(root, 3L, 7L * 24 * 3600 * 1000)
    table.expireSnapshots(keepLast = 1, orphanGraceMs = 0L,
      olderThanMs = 24L * 3600 * 1000)
    assert(table.snapshotIds == Seq(4L))
    assert(table.read().count() == 20L)
  }

  test("expiry never reclaims a commit dir holding only an in-flight _temporary") {
    val root = Files.createTempDirectory("graft-expiry-").toString
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4)
    commitBatch(table, 0L)
    // an in-flight writer's staging dir: no part files yet, old mtime
    // (object stores report synthetic dir mtimes), grace 0
    val staging = new java.io.File(s"$root/data/c999-inflight/_temporary")
    assert(staging.mkdirs())
    assert(staging.getParentFile.setLastModified(System.currentTimeMillis() - 3600_000))
    table.expireSnapshots(keepLast = 1, orphanGraceMs = 0L)
    assert(staging.exists(), "in-flight staging dir must survive the sweep")
    assert(table.read().count() == 20L)
  }

  test("negative olderThanMs preserves the count-based behavior exactly") {
    val root = Files.createTempDirectory("graft-expiry-").toString
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4)
    (0L to 3L).foreach(commitBatch(table, _))
    table.expireSnapshots(keepLast = 2, orphanGraceMs = 0L)
    assert(table.snapshotIds == Seq(3L, 4L))
  }

  test("the expiry report counts only deletes that succeeded") {
    val root = Files.createTempDirectory("graft-expiry-").toString
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4)
    (0L to 2L).foreach(commitBatch(table, _))
    val orphanDir = new java.io.File(s"$root/data/c1-orphan")
    assert(orphanDir.mkdirs() && orphanDir.setLastModified(System.currentTimeMillis() - 3600_000))
    // Same sweep through a filesystem whose every delete fails: nothing is
    // reclaimed, so nothing may be reported.
    val refusing = Seq("fs.file.impl" -> classOf[RefusingDeleteFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    refusing.foreach { case (k, v) => spark.conf.set(k, v) }
    val failed =
      try LakeTable.load(spark, root).expireSnapshots(keepLast = 1, orphanGraceMs = 0L)
      finally refusing.foreach { case (k, _) => spark.conf.unset(k) }
    assert(failed == ExpiryReport(0, 0, 0, 0), failed.toString)
    assert(table.snapshotIds == Seq(0L, 1L, 2L, 3L) && orphanDir.exists())
    // the real filesystem reclaims and reports the same candidates
    val done = table.expireSnapshots(keepLast = 1, orphanGraceMs = 0L)
    assert(done.snapshotsDeleted == 3 && done.dataFilesDeleted > 0 &&
      done.commitDirsReclaimed >= 1, done.toString)
    assert(table.snapshotIds == Seq(3L) && !orphanDir.exists())
    assert(table.read().count() == 20L)
  }

  test("expiry sweeps publish temps a crash leaked once they pass the orphan grace") {
    val root = Files.createTempDirectory("graft-expiry-").toString
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4)
    commitBatch(table, 0L)
    def leak(name: String, ageMs: Long): java.io.File = {
      val f = new java.io.File(s"$root/_meta", LakeTable.PublishTempPrefix + name)
      Files.writeString(f.toPath, "{")
      assert(f.setLastModified(System.currentTimeMillis() - ageMs))
      f
    }
    val old = leak("old", 3600_000L)
    val young = leak("young", 0L)
    table.expireSnapshots(keepLast = 1, orphanGraceMs = 60_000L)
    assert(!old.exists(), "a publish temp older than the grace survived expiry")
    assert(young.exists(), "a publish temp inside the grace (maybe in flight) was deleted")
    assert(table.snapshotIds == Seq(1L) && table.read().count() == 20L)
  }

  test("history reads snapshot headers only: a retained snapshot whose group manifest " +
      "is gone is still listed") {
    val root = Files.createTempDirectory("graft-expiry-").toString
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4)
    (0L to 2L).foreach(commitBatch(table, _))
    val want = (0L to 3L).map(id => table.snapshot(id).files.size.toLong)
    // snapshot 1's only group manifest: no later snapshot shares it
    val ref = table.snapshot(1L).groupRefs.map(_.path)
    assert(ref.size == 1 && !table.current.groupRefs.map(_.path).contains(ref.head))
    assert(new java.io.File(s"$root/_meta", ref.head).delete())
    intercept[java.io.FileNotFoundException](table.snapshot(1L))
    val h = table.history.orderBy("snapshot_id").select("snapshot_id", "num_files").collect()
    assert(h.map(r => (r.getLong(0), r.getLong(1))).toSeq == (0L to 3L).zip(want))
  }

  test("history skips a listed snapshot whose manifest an expiry deleted") {
    val root = Files.createTempDirectory("graft-expiry-").toString
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4)
    (0L to 2L).foreach(commitBatch(table, _))
    val racing = Seq("fs.file.impl" -> classOf[RacingExpiryFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    racing.foreach { case (k, v) => spark.conf.set(k, v) }
    val ids =
      try LakeTable.load(spark, root).history.select("snapshot_id").collect().map(_.getLong(0)).toSeq
      finally racing.foreach { case (k, _) => spark.conf.unset(k) }
    // snapshot 0 was listed, then expired before its manifest was read
    assert(ids == Seq(1L, 2L, 3L))
    assert(table.snapshotIds == Seq(1L, 2L, 3L))
  }
}
