package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{MergeApply, WriteStrategy}
import graft.lake.{FileEntry, FileStats, LakeTable, Manifest, Snapshot}
import graft.model.Model

/** Manifest-level min/max file skipping: the engine's substitute for the
  * reference's secondary indexes (SURVEY §4; reference:
  * Scripts/database_schema.sql:165-169). A point read of one conversation
  * must prune to its bucket AND then to the file(s) whose key range covers
  * it — without opening any parquet footer — while files without a key
  * range (they hold null keys) are never skipped.
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

  test("manifest codec: stats round-trip, entries without a key range never skip") {
    val withStats = FileEntry("/p/a.parquet", 3, 2, 100, 90, FileEntry.Base,
      Some(FileStats("conv-a", "conv-z")), len = 4321L)
    val nullKeyStats = FileEntry("/p/b.parquet", 1, 2, 10, 10, FileEntry.Delta)
    val noStats = FileEntry("/p/c.parquet", 0, 1, 5, 5)
    val snap = Snapshot(4L, 3L, 9L, 2, 4, 115L, 150L,
      Seq(withStats, nullKeyStats, noStats), writerId = "w1", touched = Seq(0, 1, 3))
    val meta = new Path(tmp())
    val fs = meta.getFileSystem(spark.sessionState.newHadoopConf())
    val published = Manifest.publish(fs, meta, Nil, snap).get
    val back = Manifest.read(fs, meta, snap.id)
    assert(back.files == Seq(withStats, nullKeyStats, noStats))
    // `len` is written on every entry, -1 included; `mn`/`mx` only where known
    val group = Files.readString(java.nio.file.Paths.get(meta.toUri.getPath, published.groupRefs.head.path))
    assert(group.split("\"len\":").length == 4 && group.split("\"mn\":").length == 2)
    assert(back.files.map(_.len) == Seq(4321L, -1L, -1L))

    // entries written without a key range read back as stats=None and are
    // never skipped by any probe
    assert(back.files.drop(1).forall(_.stats.isEmpty))
    val probe = UTF8String.fromString("zzz-outside-any-range")
    assert(back.files.drop(1).forall(LakeTable.mayOverlapKeyRange(_, probe, probe)))
    // an entry without a key range (its file holds null keys) never skips
    assert(LakeTable.mayOverlapKeyRange(nullKeyStats, probe, probe))
    // known ranges DO skip
    assert(!LakeTable.mayOverlapKeyRange(withStats, probe, probe))
  }

  test("write pass records each file's byte length, and it survives a reload") {
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

    // the Spark scan (cap 0; these files are small enough for the driver)
    Seq("conv-000", "conv-123", "conv-399").foreach { k =>
      assert(table.readKey(k, driverCapBytes = 0L).inputFiles.toSet ==
        table.filesForKey(k).map(_.path).toSet, k)
    }
  }

  /** A copy-on-write base for `aaa-*` keys, then merge-on-read deltas: one
    * updating half the `aaa` keys, one adding `bbb` keys. Every bucket holds
    * three files, and an `aaa` key's point read keeps its base and the
    * `aaa` delta.
    */
  private def baseAndDeltas(): LakeTable = {
    val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 4)
    def batch(prefix: String, lsnBase: Long, n: Int, text: String) =
      (0 until n).flatMap(i => (1 to 2).map(t =>
        ev(lsnBase + i * 2 + t, f"$prefix-$i%03d", t, s"$text $i $t")))
    assert(MergeApply.applyBatch(table, df(batch("aaa", 0, 80, "v1")), epochId = 0).applied)
    assert(MergeApply.applyBatch(table, df(batch("aaa", 1000, 40, "v2")), epochId = 1,
      strategy = WriteStrategy.MergeOnRead).applied)
    assert(MergeApply.applyBatch(table, df(batch("bbb", 2000, 80, "v1")), epochId = 2,
      strategy = WriteStrategy.MergeOnRead).applied)
    table
  }

  /** A `ParquetFileFormat` that records what the driver point read asks of
    * it: the pushed filters of each reader and every file it opens. With
    * `failDecode` each file's rows throw on the first row, and `closed`
    * counts the readers closed.
    */
  private final class RecordingFormat(failDecode: Boolean = false)
      extends org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.PartitionedFile
    val filters = new java.util.concurrent.ConcurrentLinkedQueue[Seq[org.apache.spark.sql.sources.Filter]]()
    val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val closed = new java.util.concurrent.atomic.AtomicInteger()
    override def buildReaderWithPartitionValues(session: SparkSession,
        dataSchema: org.apache.spark.sql.types.StructType,
        partitionSchema: org.apache.spark.sql.types.StructType,
        requiredSchema: org.apache.spark.sql.types.StructType,
        pushed: Seq[org.apache.spark.sql.sources.Filter], options: Map[String, String],
        hadoopConf: org.apache.hadoop.conf.Configuration): PartitionedFile => Iterator[InternalRow] = {
      filters.add(pushed)
      val read = super.buildReaderWithPartitionValues(session, dataSchema, partitionSchema,
        requiredSchema, pushed, options, hadoopConf)
      f => {
        opened.add(f.toPath.toString)
        val rows = read(f)
        new Iterator[InternalRow] with java.io.Closeable {
          def hasNext: Boolean = rows.hasNext
          def next(): InternalRow =
            if (failDecode) throw new java.io.IOException("injected decode failure") else rows.next()
          def close(): Unit = {
            closed.incrementAndGet()
            rows match { case c: java.io.Closeable => c.close(); case _ => }
          }
        }
      }
    }
  }

  test("a point read under the cap runs no Spark job, on a CoW bucket and on an MoR bucket with deltas") {
    val cow = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 4)
    assert(MergeApply.applyBatch(cow, df((0 until 40).map(i =>
      ev(i + 1L, f"ccc-$i%03d", 1, s"c$i"))), epochId = 0).applied)
    assert(cow.filesForKey("ccc-007").map(_.kind) == Seq(FileEntry.Base))
    val mor = baseAndDeltas()
    assert(mor.filesForKey("aaa-007").map(_.kind).sorted == Seq(FileEntry.Base, FileEntry.Delta))
    Seq((cow, "ccc-007", 1), (mor, "aaa-007", 2)).foreach { case (t, k, n) =>
      assert(t.filesForKey(k).map(_.len).sum < LakeTable.driverReadCapBytes)
      // a projection plus collect over the result, the shape a caller reads
      val (got, seen) = JobProbe.during(spark)(
        t.readKey(k).select(col("turn_idx"), col("text"), xxhash64(col("conv_id"))).collect())
      assert(seen.jobs.isEmpty, s"readKey($k) ran ${seen.jobs.size} Spark jobs")
      val want = t.readKey(k, driverCapBytes = 0L)
        .select(col("turn_idx"), col("text"), xxhash64(col("conv_id"))).collect()
      assert(got.toSet == want.toSet && got.length == n, k)
      // a local relation: nothing to list, a LocalTableScan to explain
      assert(t.readKey(k).inputFiles.isEmpty)
      assert(t.readKey(k).queryExecution.executedPlan.toString.contains("LocalTableScan"))
    }
    // the delta's update wins on the driver too
    assert(mor.readKey("aaa-007").collect().map(_.getAs[String]("text")).toSet ==
      Set("v2 7 1", "v2 7 2"))
  }

  test("the driver point read opens exactly filesForKey and pushes the key equality to the reader") {
    import org.apache.spark.sql.sources.EqualTo
    import scala.jdk.CollectionConverters._
    val table = baseAndDeltas()
    Seq("aaa-007", "aaa-060", "bbb-042").foreach { k =>
      val format = new RecordingFormat
      val got = table.readKey(k, LakeTable.driverReadCapBytes, format).collect()
      val wanted = table.filesForKey(k).map(f => new org.apache.hadoop.fs.Path(f.path).toString)
      assert(wanted.size < table.current.files.count(_.bucket == LakeTable.bucketOfKey(k, 4)),
        s"fixture must prune files of $k's bucket")
      assert(format.opened.asScala.toSeq.sorted == wanted.sorted, k)
      assert(format.filters.asScala.toSeq == Seq(Seq(EqualTo("conv_id", k))), k)
      assert(format.closed.get == wanted.size, k)
      assert(got.toSet == table.readKey(k, driverCapBytes = 0L).collect().toSet, k)
    }
  }

  test("the driver point read closes the file reader when decoding throws") {
    val table = baseAndDeltas()
    val format = new RecordingFormat(failDecode = true)
    val e = intercept[java.io.IOException](
      table.readKey("aaa-007", LakeTable.driverReadCapBytes, format))
    assert(e.getMessage == "injected decode failure")
    assert(format.opened.size == 1 && format.closed.get == 1)
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
