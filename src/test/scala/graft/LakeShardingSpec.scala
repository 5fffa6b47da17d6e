package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.MergeApply
import graft.gen.ChangeGen
import graft.gen.ChangeGen.GenConfig
import graft.lake.{FileEntry, FileStats, LakeTable, Manifest, Snapshot}

/** The manifest-list format every table uses: the snapshot JSON carries
  * references to per-64-bucket-group manifests instead of file entries,
  * so both the snapshot JSON size and the metadata written per commit stay
  * O(buckets touched) no matter how many buckets (files) the table holds —
  * the Iceberg manifest-list shape, which is what lets a 4096-bucket
  * 100 TB table commit in O(1) metadata, and gives a small table one
  * group manifest per snapshot.
  */
class LakeShardingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(8, appName = "sharding-spec")

  private def tmp(): String = Files.createTempDirectory("graft-shard-").toString

  private def fe(bucket: Int, tag: String): FileEntry =
    FileEntry(s"/nonexistent/$tag-b$bucket.parquet", bucket, 1, rows = 1L, live = 1L)

  private def snapJsonBytes(root: String, id: Long): Long =
    new java.io.File(s"$root/_meta", f"snap-$id%010d.json").length()

  test("manifest codec: a snapshot with a summary round-trips through its groups") {
    val meta = new Path(tmp())
    val fs = meta.getFileSystem(spark.sessionState.newHadoopConf())
    val summary = Map("inputEvents" -> 1200L, "mergeMs" -> 431L, "qcNullText" -> -1L)
    // buckets 5 and 600 fall in groups 0 and 9
    val snap = Snapshot(7L, 6L, 3L, 2, 4096, 90L, 4100L,
      Seq(FileEntry("/p/a.parquet", 5, 2, 100L, 90L, FileEntry.Base,
        Some(FileStats("conv-a", "conv-q")), len = 2048L),
        FileEntry("/p/b.parquet", 600, 2, 7L, 7L, FileEntry.Delta, None, len = 99L)),
      writerId = "w-1", summary = summary, writerEpochs = Map("w-1" -> 3L, "w-0" -> 9L),
      batchHashes = Seq(11L, -4L), touched = Seq(5, 600))
    val published = Manifest.publish(fs, meta, Nil, snap).get
    assert(published.groupRefs.map(r => (r.g, r.n)) == Seq((0, 1), (9, 1)))
    assert(Manifest.read(fs, meta, 7L) == published)
    // the header read carries every field but the file list
    assert(Manifest.readHeader(fs, meta, 7L) == published.copy(files = Nil))
    // snap-N is put-if-absent
    assert(Manifest.publish(fs, meta, Nil, snap).isEmpty)
    // a maintenance commit's empty summary round-trips as empty
    val maint = snap.copy(id = 8L, summary = Map.empty, maint = true)
    val maintBack = Manifest.publish(fs, meta, Nil, maint).get
    assert(Manifest.read(fs, meta, 8L) == maintBack && maintBack.summary.isEmpty)
  }

  test("a commit to a 4-bucket table adds one group manifest and one snapshot, " +
      "and the snapshot holds no file list") {
    val root = tmp()
    val t = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 4)
    def metaFiles(): Set[String] = new java.io.File(root, "_meta").list().toSet - "_current"
    (0 until 3).foreach { e =>
      val before = metaFiles()
      assert(t.commit(Seq(fe(e, s"e$e")), Set(e), e.toLong, 1, 0L, writerId = "w",
        baseSnapshotId = t.current.id).applied)
      val added = metaFiles() -- before
      assert(added.count(_.startsWith("m-")) == 1 && added.count(_.startsWith("snap-")) == 1 &&
        added.size == 2, added.toString)
      val json = Files.readString(new java.io.File(s"$root/_meta", f"snap-${e + 1}%010d.json").toPath)
      assert(!json.contains("\"files\""), json)
      assert(t.current.groupRefs.map(r => (r.g, r.n)) == Seq((0, e + 1)))
    }
  }

  test("expiry on a 4-bucket table deletes replaced group manifests and keeps " +
      "every ref of the kept snapshot") {
    val cfg = GenConfig(numConvs = 20, maxTurns = 6, numEvents = 600)
    val root = tmp()
    val table = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 4)
    import spark.implicits._
    ChangeGen.emittedEvents(spark, cfg).collect().grouped(200).zipWithIndex.foreach {
      case (chunk, i) => assert(MergeApply.applyBatch(table,
        spark.createDataset(chunk.toSeq).toDF(), epochId = i.toLong).applied)
    }
    def state() = table.read().orderBy("conv_id", "turn_idx").collect().toSeq
    val before = state()
    val report = table.expireSnapshots(keepLast = 1, orphanGraceMs = 0L)
    assert(report.groupManifestsDeleted > 0, report.toString)
    val metaNames = new java.io.File(root, "_meta").list().toSet
    val refs = table.current.groupRefs.map(_.path)
    assert(refs.size == 1 && refs.toSet.subsetOf(metaNames), "expiry deleted a live group manifest")
    assert(metaNames.count(_.startsWith("m-")) == 1)
    assert(state() == before)
  }

  test("4096-bucket table: snapshot JSON and metadata-write volume stay " +
      "O(buckets touched), file lists round-trip exactly") {
    val root = tmp()
    val t = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 4096)
    // seed: one file in each of 512 spread-out buckets (metadata only)
    val seed = (0 until 512).map(i => fe(i * 8, "seed"))
    assert(t.commit(seed, Set.empty, 0L, 1, 0L, writerId = "w",
      baseSnapshotId = t.current.id).applied)
    val seedBytes = snapJsonBytes(root, 1L)

    def metaFiles(): Set[String] =
      new java.io.File(root, "_meta").list().toSet

    // ten commits, each replacing 3 buckets — each must write ≤ 3 new
    // group manifests and keep the snapshot JSON flat
    (1 to 10).foreach { e =>
      val buckets = Set(e * 24, e * 24 + 8, e * 24 + 16) // all seeded buckets
      val before = metaFiles()
      assert(t.commit(buckets.toSeq.map(b => fe(b, s"e$e")), buckets, e.toLong, 1,
        0L, writerId = "w", baseSnapshotId = t.current.id).applied)
      val newGroupManifests = (metaFiles() -- before).filter(_.startsWith("m-"))
      assert(newGroupManifests.size <= 3,
        s"commit $e wrote ${newGroupManifests.size} group manifests for 3 touched buckets")
      val bytes = snapJsonBytes(root, e + 1L)
      assert(bytes <= seedBytes + 2048,
        s"snapshot JSON grew to $bytes bytes (seed $seedBytes) — not O(buckets touched)")
    }

    // round-trip: the resolved file list equals what the commits built
    val cur = LakeTable.load(spark, root).current
    assert(cur.files.size == 512)
    assert(cur.files.count(_.path.contains("/e10-")) == 3)
    assert(cur.files.count(_.path.contains("/seed-")) == 512 - 30)
    // 512 file entries in the snapshot would be ~50 KB; the ref list stays small
    assert(snapJsonBytes(root, 11L) < 8 * 1024)
  }

  test("orphan GC grace: young unreferenced files survive expiry, zero-grace reclaims them") {
    // A concurrent committer writes data files and group manifests BEFORE
    // claiming its snapshot id — an expiry in that window must not eat
    // them. The grace is an age floor on orphan deletion.
    val root = tmp()
    val t = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 8)
    assert(t.commit(Seq(fe(0, "a")), Set(0), 0L, 1, 0L, writerId = "w",
      baseSnapshotId = t.current.id).applied)
    val stray = new java.io.File(s"$root/data/inflight-commit.parquet")
    stray.getParentFile.mkdirs()
    java.nio.file.Files.writeString(stray.toPath, "pretend parquet")
    val strayMeta = new java.io.File(s"$root/_meta/m-g0000-inflight.json")
    java.nio.file.Files.writeString(strayMeta.toPath, "{}")
    t.expireSnapshots(keepLast = 1) // default grace: both must survive
    assert(stray.exists(), "young orphan data file was GC'd inside the grace window")
    assert(strayMeta.exists(), "young orphan group manifest was GC'd inside the grace window")
    t.expireSnapshots(keepLast = 1, orphanGraceMs = 0L)
    assert(!stray.exists(), "zero-grace expiry should reclaim the orphan data file")
    assert(!strayMeta.exists(), "zero-grace expiry should reclaim the orphan group manifest")
  }

  test("replay + compaction + snapshot expiry all run green on the sharded format") {
    val cfg = GenConfig(numConvs = 40, maxTurns = 15, numEvents = 3000)
    val root = tmp()
    // 128 buckets: two group manifests
    val table = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 128)
    val all = ChangeGen.emittedEvents(spark, cfg).collect()
    import spark.implicits._
    all.grouped(700).zipWithIndex.foreach { case (chunk, i) =>
      assert(MergeApply.applyBatch(table,
        spark.createDataset(chunk.toSeq).toDF(), epochId = i.toLong).applied)
    }
    assert(table.current.groupRefs.map(_.g) == Seq(0, 1))

    val oracle = ChangeGen.oracleFold(
      (0L until cfg.totalRows).map(i => ChangeGen.rowAt(cfg, i))).toSeq
      .sortBy { case ((c, t), _) => (c, t) }
      .map { case ((c, t), turn) => (c, t.toLong, turn.role, turn.text) }
    def state() = table.read().orderBy("conv_id", "turn_idx")
      .select($"conv_id", $"turn_idx".cast("long"), $"role", $"text")
      .as[(String, Long, String, String)].collect().toSeq
    assert(state() == oracle)

    // compaction commits through the same group diff path
    table.compact(maxFilesPerBucket = 1)
    assert(state() == oracle)

    // expiry must drop unreferenced group manifests but keep every live one
    table.expireSnapshots(keepLast = 1, orphanGraceMs = 0L)
    val metaNames = new java.io.File(root, "_meta").list().toSet
    val liveRefs = table.current.groupRefs.map(_.path).toSet
    assert(liveRefs.subsetOf(metaNames), "expiry deleted a live group manifest")
    assert(state() == oracle)
  }
}
