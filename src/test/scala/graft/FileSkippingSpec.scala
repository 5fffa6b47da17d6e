package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{MergeApply, WriteStrategy}
import graft.lake.{FileEntry, FileStats, LakeTable, Snapshot}
import graft.model.Model

/** Manifest-level min/max file skipping: the engine's substitute for the
  * reference's secondary indexes (SURVEY §4; reference:
  * Scripts/database_schema.sql:165-169). A point read of one conversation
  * must prune to its bucket AND then to the file(s) whose key range covers
  * it — without opening any parquet footer — while files without stats
  * (legacy manifests) are never skipped.
  */
class FileSkippingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(8, appName = "fileskip-spec")

  private def tmp(): String = Files.createTempDirectory("graft-skip-").toString

  private val ts = new java.sql.Timestamp(1704067200000L)
  private def ev(lsn: Long, conv: String, turn: Int, text: String) =
    Model.ChangeEvent(lsn, "I", 2, conv, turn, Some("user"), Some(text), None, Some(ts))

  private def df(events: Seq[Model.ChangeEvent]) = {
    import spark.implicits._
    spark.createDataset(events).toDF()
  }

  test("driver-side bucketOfKey matches the Column bucket transform") {
    import spark.implicits._
    val keys = (0 until 500).map(i => s"conv-$i") ++
      Seq("", "snow☃man", "a b/c", "élève")
    val got = keys.toDF("k")
      .withColumn("b", MergeApply.bucketOf(col("k"), 16))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    keys.foreach { k =>
      assert(LakeTable.bucketOfKey(k, 16) == got(k), s"bucket drift for key '$k'")
    }
  }

  test("write-pass manifest stats carry a key range that covers the data") {
    val root = tmp()
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4)
    val events = (0 until 200).map(i => ev(100 + i, f"conv-${i % 50}%03d", i / 50 + 1, s"t$i"))
    assert(MergeApply.applyBatch(table, df(events), epochId = 0).applied)
    val files = table.current.files
    assert(files.nonEmpty)
    files.foreach { f =>
      val s = f.stats.getOrElse(fail(s"file ${f.path} has no stats"))
      assert(s.minKey <= s.maxKey)
    }
    // roundtrip: a freshly loaded table parses the same stats back
    val reloaded = LakeTable.load(spark, root).current.files
    assert(reloaded.map(f => (f.path, f.stats)).sortBy(_._1) ==
      files.map(f => (f.path, f.stats)).sortBy(_._1))
  }

  test("point read prunes a multi-file bucket to the covering file, result exact") {
    val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 4)
    // two merge-on-read batches with lexicographically disjoint conv ranges:
    // every bucket ends up with one delta file per batch
    def batch(prefix: String, lsnBase: Long) =
      (0 until 80).flatMap(i => (1 to 2).map(t =>
        ev(lsnBase + i * 2 + t, f"$prefix-$i%03d", t, s"$prefix $i $t")))
    assert(MergeApply.applyBatch(table, df(batch("aaa", 0)), epochId = 0,
      strategy = WriteStrategy.MergeOnRead).applied)
    assert(MergeApply.applyBatch(table, df(batch("bbb", 10000)), epochId = 1,
      strategy = WriteStrategy.MergeOnRead).applied)
    val snap = table.current
    val byBucket = snap.files.groupBy(_.bucket)
    assert(byBucket.nonEmpty && byBucket.values.forall(_.size >= 2),
      "fixture must plant multi-file buckets")

    val key = "aaa-042"
    val pruned = table.filesForKey(key)
    assert(pruned.size == 1,
      s"expected exactly the covering file, got ${pruned.map(_.path)}")
    assert(pruned.head.bucket == LakeTable.bucketOfKey(key, snap.numBuckets))
    assert(pruned.head.stats.exists(s => s.minKey <= key && key <= s.maxKey))

    val got = table.readKey(key).orderBy("turn_idx").collect().toSeq
    val want = table.read().filter(col("conv_id") === key)
      .orderBy("turn_idx").collect().toSeq
    assert(got == want && got.size == 2)
  }

  test("range read skips non-overlapping files, result exact") {
    val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 4)
    def batch(prefix: String, lsnBase: Long) =
      (0 until 60).map(i => ev(lsnBase + i, f"$prefix-$i%03d", 1, s"$prefix $i"))
    assert(MergeApply.applyBatch(table, df(batch("aaa", 0)), epochId = 0,
      strategy = WriteStrategy.MergeOnRead).applied)
    assert(MergeApply.applyBatch(table, df(batch("bbb", 10000)), epochId = 1,
      strategy = WriteStrategy.MergeOnRead).applied)
    val snap = table.current
    val lo = UTF8String.fromString("aaa-010")
    val hi = UTF8String.fromString("aaa-019")
    val overlapping = snap.files.filter(LakeTable.mayOverlapKeyRange(_, lo, hi))
    assert(overlapping.nonEmpty && overlapping.size < snap.files.size,
      "range pruning must drop the bbb files")
    assert(overlapping.forall(_.stats.exists(_.minKey.startsWith("aaa"))))

    val got = table.readKeyRange("aaa-010", "aaa-019")
      .orderBy("conv_id").collect().toSeq
    val want = table.read()
      .filter(col("conv_id") >= "aaa-010" && col("conv_id") <= "aaa-019")
      .orderBy("conv_id").collect().toSeq
    assert(got == want && got.size == 10)
  }

  test("manifest codec: stats roundtrip, legacy entries parse to None and never skip") {
    val withStats = FileEntry("/p/a.parquet", 3, 2, 100, 90, FileEntry.Base,
      Some(FileStats("conv-a", "conv-z")), len = 4321L)
    val nullKeyStats = FileEntry("/p/b.parquet", 1, 2, 10, 10, FileEntry.Delta)
    val noStats = FileEntry("/p/c.parquet", 0, 1, 5, 5)
    val snap = Snapshot(4L, 3L, 9L, 2, 4, 115L, 150L,
      Seq(withStats, nullKeyStats, noStats), writerId = "w1")
    val back = LakeTable.parseManifest(LakeTable.manifestJson(snap))
    assert(back.files == Seq(withStats, nullKeyStats, noStats))
    // `len` is written on every entry, -1 included
    assert(back.files.map(_.len) == Seq(4321L, -1L, -1L))
    assert(LakeTable.manifestJson(snap).split("\"len\":").length == 4)

    // a LEGACY manifest (written before the stats field existed) parses
    // to stats=None and is never skipped by any probe
    val legacyJson = LakeTable.manifestJson(
      snap.copy(files = snap.files.map(_.copy(stats = None))))
    assert(!legacyJson.contains("\"mn\""))
    val legacy = LakeTable.parseManifest(legacyJson)
    assert(legacy.files.forall(_.stats.isEmpty))
    val probe = UTF8String.fromString("zzz-outside-any-range")
    assert(legacy.files.forall(LakeTable.mayContainKey(_, probe)))
    // an entry without a key range (its file holds null keys) never skips
    assert(LakeTable.mayContainKey(nullKeyStats, probe))
    // known ranges DO skip
    assert(!LakeTable.mayContainKey(withStats, probe))
  }

  test("write pass records each file's byte length, and it survives a reload") {
    import org.apache.hadoop.fs.Path
    val root = tmp()
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4)
    val events = (0 until 120).map(i => ev(100 + i, f"conv-${i % 40}%03d", i / 40 + 1, s"t$i"))
    assert(MergeApply.applyBatch(table, df(events), epochId = 0).applied)
    assert(MergeApply.applyBatch(table, df(events.take(30).map(e =>
      e.copy(lsn = e.lsn + 1000, text = Some("v2")))), epochId = 1,
      strategy = WriteStrategy.MergeOnRead).applied)
    val snap = table.current
    val conf = spark.sessionState.newHadoopConf()
    snap.files.foreach { f =>
      val p = new Path(f.path)
      assert(f.len == p.getFileSystem(conf).getFileStatus(p).getLen, f.path)
    }
    // the lengths survive a reload from disk
    assert(LakeTable.load(spark, root).current.files == snap.files)
  }

  test("scans plan from the manifest: no listing job, and readKey opens exactly filesForKey") {
    val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 40)
    def epoch(e: Int) = (0 until 400).map(i =>
      ev(e * 1000L + i, f"conv-$i%03d", 1, s"e$e $i"))
    assert(MergeApply.applyBatch(table, df(epoch(0)), epochId = 0).applied)
    val from = table.current.id
    assert(MergeApply.applyBatch(table, df(epoch(1)), epochId = 1).applied)
    val snap = table.current
    // above spark.sql.sources.parallelPartitionDiscovery.threshold (32): a
    // listing file index would plan these reads with a Spark job
    assert(snap.files.size > 32 && table.changedBuckets(table.snapshot(from), snap).size > 32)

    // no job may run while either scan is planned
    def planningJobs(plan: => org.apache.spark.sql.DataFrame) =
      JobProbe.during(spark)(plan.queryExecution.executedPlan)._2.jobs
        .map(j => String.valueOf(j.properties.getProperty("spark.job.description")))
    assert(planningJobs(table.read()).isEmpty)
    assert(planningJobs(table.readChangesSince(from)).isEmpty)
    assert(table.read().count() == 400L)
    assert(table.readChangesSince(from).count() == 400L)

    Seq("conv-000", "conv-123", "conv-399").foreach { k =>
      assert(table.readKey(k).inputFiles.toSet == table.filesForKey(k).map(_.path).toSet, k)
    }
  }

  test("point read on a non-string-keyed table fails loudly, not silently empty") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("p1", LongType, nullable = false),
      StructField("p2", LongType, nullable = false),
      StructField("n", LongType)))
    val table = LakeTable.create(spark, tmp() + "/pairs", schemaVer = 1,
      numBuckets = 4, registry = Map(1 -> schema), keyCols = Seq("p1", "p2"))
    // bucketOfKey hashes the STRING form; the write side bucketed on the
    // native long — a silent wrong-bucket prune would return empty here
    val e = intercept[IllegalArgumentException](table.readKey("42"))
    assert(e.getMessage.contains("not a string"))
    val e2 = intercept[IllegalArgumentException](table.filesForKey("42"))
    assert(e2.getMessage.contains("not a string"))
  }
}
