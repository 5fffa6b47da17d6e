package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{CdcStream, MergeApply, StreamFiles}
import graft.cdc.CdcStream.StreamConfig
import graft.gen.ChangeGen
import graft.gen.ChangeGen.GenConfig
import graft.lake.LakeTable

class CdcStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(8, appName = "stream-spec")

  private def tmp(): String = Files.createTempDirectory("graft-stream-").toString

  /** Write the emitted (out-of-order) event stream as N parquet files —
    * the file-based change log the stream tails.
    */
  private def writeEventFiles(cfg: GenConfig, dir: String, nFiles: Int): Unit = {
    val all = ChangeGen.emittedEvents(spark, cfg).collect()
    all.grouped(math.max(1, (all.length + nFiles - 1) / nFiles)).zipWithIndex.foreach {
      case (chunk, i) =>
        import spark.implicits._
        StreamFiles.writeFlat(spark.createDataset(chunk.toSeq).toDF(), dir, f"chunk-$i%04d")
    }
  }

  private def stateOf(table: LakeTable): Seq[(String, Int, String)] = {
    import spark.implicits._
    table.read().orderBy("conv_id", "turn_idx")
      .select($"conv_id", $"turn_idx".cast("int"), $"text")
      .as[(String, Int, String)].collect().toSeq
  }

  /** Every row of the three observability channels, every column. */
  private def channelRows(table: LakeTable): Seq[Set[org.apache.spark.sql.Row]] =
    Seq(CdcStream.metrics(spark, table.root), CdcStream.qc(spark, table.root),
      CdcStream.lineage(spark, table.root)).map(_.collect().toSet)

  /** Crash between the snapshot publish and the checkpoint advance: drop
    * the epoch's commit marker (so the stream replays it) and the given
    * channels' rows for it (their writes were lost with the crash), then
    * restart the stream on the same checkpoint.
    */
  private def crashAndRerun(table: LakeTable, base: String, epoch: Long,
      channels: Seq[String], sc: StreamConfig): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    val wid = CdcStream.writerIdOf(s"$base/cp")
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$base/cp/commits/$epoch"), false))
    channels.foreach(c =>
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"${table.root}/$c/$wid/e$epoch"), true)))
    CdcStream.runAvailable(spark, table, s"$base/events", s"$base/cp", sc)
  }

  private def oracleOf(cfg: GenConfig): Seq[(String, Int, String)] = {
    val events = (0L until cfg.totalRows).map(i => ChangeGen.rowAt(cfg, i))
    ChangeGen.oracleFold(events).toSeq.sortBy { case ((c, t), _) => (c, t) }
      .map { case ((c, t), turn) => (c, t.toInt, turn.text) }
  }

  test("streamed replay (foreachBatch, AvailableNow) equals oracle; metrics + lineage emitted") {
    val base = tmp()
    val cfg = GenConfig(numConvs = 40, maxTurns = 15, numEvents = 3000)
    writeEventFiles(cfg, s"$base/events", nFiles = 8)
    val table = LakeTable.create(spark, s"$base/table", schemaVer = 1, numBuckets = 8)
    CdcStream.runAvailable(spark, table, s"$base/events", s"$base/cp",
      StreamConfig(maxFilesPerTrigger = 2))
    assert(stateOf(table) == oracleOf(cfg))
    assert(table.current.schemaVer == 2) // v2 tail evolved the schema

    val m = CdcStream.metrics(spark, table.root)
    assert(m.count() >= 4) // 8 files / 2 per trigger
    assert(m.select("input_events").collect().map(_.getLong(0)).sum == cfg.totalRows)
    val l = CdcStream.lineage(spark, table.root)
    // every source file is linked to the snapshot that committed it
    assert(l.select("source_file").distinct().count() == 8)

    // S9: QC channel — one row per applied epoch, tombstone counts summing
    // to the generator's delete-event count (observed on the merge plan)
    val qc = CdcStream.qc(spark, table.root)
    assert(qc.count() == m.count())
    val expectedDeletes = (0L until cfg.totalRows)
      .count(i => ChangeGen.rowAt(cfg, i).op == "D")
    assert(qc.select("n_deletes").collect().map(_.getLong(0)).sum == expectedDeletes)
  }

  test("checkpoint resume: second run over same dir applies nothing new, state intact") {
    val base = tmp()
    val cfg = GenConfig(numConvs = 20, maxTurns = 10, numEvents = 1500)
    writeEventFiles(cfg, s"$base/events", nFiles = 4)
    val table = LakeTable.create(spark, s"$base/table", schemaVer = 1, numBuckets = 4)
    CdcStream.runAvailable(spark, table, s"$base/events", s"$base/cp")
    val snapAfter = table.current.id
    val metricsAfter = CdcStream.metrics(spark, table.root).count()

    // restart from the same checkpoint: no new files → no new epochs
    CdcStream.runAvailable(spark, table, s"$base/events", s"$base/cp")
    assert(table.current.id == snapAfter)
    assert(CdcStream.metrics(spark, table.root).count() == metricsAfter)
    assert(stateOf(table) == oracleOf(cfg))

    // new late files arrive → stream picks them up incrementally
    val late = GenConfig(numConvs = 20, maxTurns = 10, numEvents = 2000)
    import spark.implicits._
    val extra = (1500L until late.totalRows).map(i => ChangeGen.rowAt(late, i))
    StreamFiles.writeFlat(spark.createDataset(extra).toDF(), s"$base/events", "late-0001")
    CdcStream.runAvailable(spark, table, s"$base/events", s"$base/cp")
    assert(stateOf(table) == oracleOf(late))
  }

  test("crash replay: re-applying the last epoch out-of-band is fenced, no duplicates") {
    val base = tmp()
    val cfg = GenConfig(numConvs = 15, maxTurns = 8, numEvents = 800)
    writeEventFiles(cfg, s"$base/events", nFiles = 2)
    val table = LakeTable.create(spark, s"$base/table", schemaVer = 1, numBuckets = 4)
    CdcStream.runAvailable(spark, table, s"$base/events", s"$base/cp",
      StreamConfig(maxFilesPerTrigger = 1))
    val lastEpoch = table.current.epochId
    val before = stateOf(table)
    // simulate the crash-window replay: foreachBatch re-delivers the last
    // micro-batch with the same epochId AND the same writer identity (a
    // replay from the same checkpoint carries the same writerId)
    val replayed = ChangeGen.events(spark, cfg).toDF()
    val st = MergeApply.applyBatch(table, replayed, lastEpoch,
      writerId = CdcStream.writerIdOf(s"$base/cp"))
    assert(!st.applied)
    assert(stateOf(table) == before)
  }

  test("fresh checkpoint: epochs restart at 0 but commits APPLY (no silent fencing)") {
    val base = tmp()
    val cfg = GenConfig(numConvs = 15, maxTurns = 8, numEvents = 800)
    writeEventFiles(cfg, s"$base/events", nFiles = 2)
    val table = LakeTable.create(spark, s"$base/table", schemaVer = 1, numBuckets = 4)
    CdcStream.runAvailable(spark, table, s"$base/events", s"$base/cp1")
    val snapAfter = table.current.id
    val state = stateOf(table)
    // operator restarts the stream with a NEW checkpoint dir: epochIds
    // restart at 0. Per-writer fencing means these commits re-apply (the
    // merge is row-level idempotent) instead of being silently dropped.
    CdcStream.runAvailable(spark, table, s"$base/events", s"$base/cp2")
    assert(table.current.id > snapAfter, "fresh-checkpoint commits were silently fenced")
    assert(stateOf(table) == state)
    assert(stateOf(table) == oracleOf(cfg))
  }

  test("crash window: lost metrics re-emitted from manifest on replay, no duplicates") {
    val base = tmp()
    val cfg = GenConfig(numConvs = 15, maxTurns = 8, numEvents = 1000)
    writeEventFiles(cfg, s"$base/events", nFiles = 4)
    val table = LakeTable.create(spark, s"$base/table", schemaVer = 1, numBuckets = 4)
    val sc = StreamConfig(maxFilesPerTrigger = 2)
    CdcStream.runAvailable(spark, table, s"$base/events", s"$base/cp", sc)
    val lastEpoch = table.current.epochId
    val nMetrics = CdcStream.metrics(spark, table.root).count()
    val state = stateOf(table)
    val rowsBefore = channelRows(table)
    crashAndRerun(table, base, lastEpoch, Seq("_metrics", "_qc", "_lineage"), sc)
    // commit was fenced (no double apply), but the channel rows came back
    assert(stateOf(table) == state)
    val m = CdcStream.metrics(spark, table.root)
    assert(m.count() == nMetrics, "metrics duplicated or lost after crash replay")
    val replayRow = m.filter(org.apache.spark.sql.functions.col("epoch_id") === lastEpoch).collect()
    assert(replayRow.length == 1)
    assert(replayRow(0).getAs[Long]("input_events") > 0)
    // the replayed rows equal the uncrashed run's, QC included
    assert(channelRows(table) == rowsBefore)
  }

  test("crash window after a scheduled compaction: replay attributes the EPOCH snapshot, not the maintenance one") {
    val base = tmp()
    val cfg = GenConfig(numConvs = 15, maxTurns = 8, numEvents = 1200)
    writeEventFiles(cfg, s"$base/events", nFiles = 4)
    val table = LakeTable.create(spark, s"$base/table", schemaVer = 1, numBuckets = 4)
    val sc = StreamConfig(maxFilesPerTrigger = 2,
      strategy = graft.cdc.WriteStrategy.MergeOnRead, compactEveryEpochs = 2)
    CdcStream.runAvailable(spark, table, s"$base/events", s"$base/cp", sc)
    // the scheduled epoch folded its touched buckets in its own merge; an
    // out-of-band compaction puts the maintenance commit on top
    assert(table.compact(maxFilesPerBucket = 0).applied)
    val lastEpoch = table.current.epochId
    assert(table.current.maint, "schedule should leave a compaction commit on top")
    import org.apache.spark.sql.functions.col
    val before = CdcStream.metrics(spark, table.root)
      .filter(col("epoch_id") === lastEpoch).collect()(0)
    val rowsBefore = channelRows(table)
    crashAndRerun(table, base, lastEpoch, Seq("_metrics", "_qc", "_lineage"), sc)
    val after = CdcStream.metrics(spark, table.root)
      .filter(col("epoch_id") === lastEpoch).collect()
    assert(after.length == 1)
    // the replayed row must point at the epoch's own commit snapshot — the
    // compaction commit carries the epoch id forward but has its own id
    // and post-fold row count
    assert(after(0).getAs[Long]("snapshot_id") == before.getAs[Long]("snapshot_id"))
    assert(after(0).getAs[Long]("input_events") == before.getAs[Long]("input_events"))
    assert(channelRows(table) == rowsBefore)
  }

  test("a committed snapshot without a summary replays no rows; one with a summary replays the applied record") {
    val base = tmp()
    val table = LakeTable.create(spark, s"$base/table", schemaVer = 2, numBuckets = 4)
    val st = MergeApply.applyBatch(table,
      ChangeGen.events(spark, GenConfig(numConvs = 10, maxTurns = 6, numEvents = 300)).toDF(),
      0L, writerId = "w")
    assert(st.applied)
    assert(CdcStream.committedRecord(table, 0L, "w") == Some(st))
    // epoch 1 committed by a caller that keeps no record
    assert(table.commit(Nil, Set.empty, 1L, 2, st.maxLsn, writerId = "w",
      baseSnapshotId = table.current.id).applied)
    assert(table.current.summary.isEmpty)
    assert(CdcStream.committedRecord(table, 1L, "w").isEmpty)
    // an epoch this writer never committed finds nothing either
    assert(CdcStream.committedRecord(table, 2L, "w").isEmpty)
  }

  test("committedRecord walks snapshot headers: it finds an epoch's record under later " +
      "commits with no group manifest of theirs read") {
    val base = tmp()
    val root = s"$base/table"
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4)
    val cfg = GenConfig(numConvs = 10, maxTurns = 6, numEvents = 300)
    val st = MergeApply.applyBatch(table, ChangeGen.events(spark, cfg).toDF(), 0L, writerId = "w",
      strategy = graft.cdc.WriteStrategy.MergeOnRead)
    assert(st.applied)
    // a maintenance commit and another writer's epoch land on top
    assert(table.compact(foldDeltas = true).applied)
    assert(table.commit(Nil, Set.empty, 0L, 2, st.maxLsn, writerId = "other",
      baseSnapshotId = table.current.id).applied)
    // every group manifest but the current snapshot's is gone: only the
    // walked snapshots' headers remain readable
    val live = table.current.groupRefs.map(_.path).toSet
    new java.io.File(root, "_meta").listFiles().filter(f => f.getName.startsWith("m-") &&
      !live.contains(f.getName)).foreach(f => assert(f.delete()))
    intercept[java.io.FileNotFoundException](table.snapshot(st.snapshotId))
    assert(CdcStream.committedRecord(table, 0L, "w") == Some(st))
  }

  test("observability channels are writer-scoped: a fresh checkpoint's epoch 0 does not clobber the old writer's") {
    val base = tmp()
    val cfg = GenConfig(numConvs = 15, maxTurns = 8, numEvents = 1000)
    writeEventFiles(cfg, s"$base/events", nFiles = 4)
    val table = LakeTable.create(spark, s"$base/table", schemaVer = 1, numBuckets = 4)
    CdcStream.runAvailable(spark, table, s"$base/events", s"$base/cpA",
      StreamConfig(maxFilesPerTrigger = 2))
    val rowsA = CdcStream.metrics(spark, table.root).count()
    // hand-over: same events re-applied under a fresh checkpoint — its
    // epochIds restart at 0 (row-level idempotent under LWW)
    CdcStream.runAvailable(spark, table, s"$base/events", s"$base/cpB",
      StreamConfig(maxFilesPerTrigger = 2))
    val m = CdcStream.metrics(spark, table.root)
    assert(m.select("writer_id").distinct().count() == 2)
    assert(m.count() == 2 * rowsA, "writer B's epochs overwrote writer A's rows")
    assert(CdcStream.lineage(spark, table.root)
      .select("writer_id").distinct().count() == 2)
  }

  test("streamed merge-on-read with periodic delta folding equals oracle") {
    val base = tmp()
    val cfg = GenConfig(numConvs = 30, maxTurns = 12, numEvents = 2400)
    writeEventFiles(cfg, s"$base/events", nFiles = 8)
    val table = LakeTable.create(spark, s"$base/table", schemaVer = 1, numBuckets = 8)
    CdcStream.runAvailable(spark, table, s"$base/events", s"$base/cp",
      StreamConfig(maxFilesPerTrigger = 2,
        strategy = graft.cdc.WriteStrategy.MergeOnRead, compactEveryEpochs = 2))
    assert(stateOf(table) == oracleOf(cfg))
    // 8 files / 2 per trigger = epochs 0..3; folds fire after epochs 1 and
    // 3, so the final table is fully folded back to base files
    assert(table.current.files.forall(_.kind == graft.lake.FileEntry.Base))
    assert(table.current.rows == table.read().count())
  }

  test("lineage survives file-source log compaction: compact epochs list only their own files") {
    val base = tmp()
    val cfg = GenConfig(numConvs = 20, maxTurns = 10, numEvents = 1400)
    writeEventFiles(cfg, s"$base/events", nFiles = 7)
    val table = LakeTable.create(spark, s"$base/table", schemaVer = 1, numBuckets = 4)
    // Interval 3 → batches 2 and 5 are written as `<id>.compact` files
    // holding ALL entries so far; with the default 10 a short test never
    // crosses a compaction boundary and the regression stays invisible.
    val key = "spark.sql.streaming.fileSource.log.compactInterval"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "3")
    try CdcStream.runAvailable(spark, table, s"$base/events", s"$base/cp",
      StreamConfig(maxFilesPerTrigger = 1))
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    assert(stateOf(table) == oracleOf(cfg))
    val l = CdcStream.lineage(spark, table.root)
    assert(l.select("source_file").distinct().count() == 7)
    // one file per epoch everywhere — the compact epochs must list exactly
    // their OWN file, neither zero (pre-fix: plain per-batch log file
    // missing) nor the whole history (unfiltered compact read)
    val perEpoch = l.groupBy("epoch_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perEpoch == (0L until 7L).map(_ -> 1L).toMap)
  }

  test("observability readers are cold-start safe: empty channels, not exceptions") {
    val base = tmp()
    LakeTable.create(spark, s"$base/table", schemaVer = 1, numBuckets = 4)
    // no epoch has applied → no _metrics/_qc/_lineage dirs exist yet
    assert(CdcStream.metrics(spark, s"$base/table").count() == 0L)
    assert(CdcStream.qc(spark, s"$base/table").count() == 0L)
    assert(CdcStream.lineage(spark, s"$base/table").count() == 0L)
    assert(CdcStream.metrics(spark, s"$base/table").columns.contains("events_per_sec"))
  }

  test("A8 observe: merge metrics ride the write plan and match file stats") {
    val base = tmp()
    val cfg = GenConfig(numConvs = 20, maxTurns = 10, numEvents = 1200)
    val table = LakeTable.create(spark, s"$base/table", schemaVer = 2, numBuckets = 4)
    val st = MergeApply.applyBatch(table, ChangeGen.events(spark, cfg).toDF(), 0L)
    assert(st.applied)
    assert(st.observedRows == st.dedupedKeys,
      s"observed ${st.observedRows} != file-stat ${st.dedupedKeys}")
    assert(st.observedLive == table.read().count())
  }

  test("channel rows are written from the driver: read back equal, re-emission replaces, staging dirs unread, no Spark job") {
    import org.apache.spark.sql.Row
    val base = tmp()
    val root = s"$base/table"
    LakeTable.create(spark, root, schemaVer = 1, numBuckets = 4)
    val wid = "w-probe"
    def stats(e: Long, events: Long) = graft.cdc.BatchStats(e, applied = true,
      snapshotId = 10 + e, inputEvents = events, dedupedKeys = 40, touchedBuckets = 3,
      schemaVer = 2, maxLsn = 990 + e, liveRows = 35, durationMs = 50,
      observedRows = 40, observedLive = 35, qcDeletes = 5, qcNullText = 7)
    def emit(s: graft.cdc.BatchStats, files: Seq[String]): Unit = {
      CdcStream.emitMetrics(spark, root, wid, s)
      CdcStream.emitQc(spark, root, wid, s)
      CdcStream.emitLineage(spark, root, wid, s, files)
    }
    val (_, seen) = JobProbe.during(spark) {
      emit(stats(3, 100), Seq("f-a", "f-b"))
      emit(stats(4, 80), Nil)
    }
    assert(seen.jobs.isEmpty, s"channel emission started ${seen.jobs.size} Spark jobs")

    def rows(df: org.apache.spark.sql.DataFrame): Set[Row] = df.collect().toSet
    def metricsRow(e: Long, events: Long) = Row(wid, e, 10 + e, events, 40L, 3, 2,
      990 + e, 35L, 50L, events * 1000.0 / 50, 40L, 35L)
    assert(rows(CdcStream.metrics(spark, root)) == Set(metricsRow(3, 100), metricsRow(4, 80)))
    assert(rows(CdcStream.qc(spark, root)) == Set(
      Row(wid, 3L, 100L, 5L, 7L, 0.05, 0.2), Row(wid, 4L, 80L, 5L, 7L, 5.0 / 80, 0.2)))
    assert(rows(CdcStream.lineage(spark, root)) == Set(
      Row(wid, "f-a", 3L, 13L), Row(wid, "f-b", 3L, 13L), Row(wid, "<none>", 4L, 14L)))

    // re-emitting an epoch replaces its rows
    emit(stats(3, 120), Seq("f-c"))
    assert(rows(CdcStream.metrics(spark, root)) == Set(metricsRow(3, 120), metricsRow(4, 80)))
    assert(CdcStream.qc(spark, root).count() == 2L)
    assert(rows(CdcStream.lineage(spark, root).filter("epoch_id = 3")) ==
      Set(Row(wid, "f-c", 3L, 13L)))

    // a staging dir left by a crash before its rename is not read
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    val live = new org.apache.hadoop.fs.Path(s"$root/_metrics/$wid/e4")
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, live, fs,
      new org.apache.hadoop.fs.Path(s"$root/_metrics/$wid/.e4-crashed"), false,
      spark.sessionState.newHadoopConf()))
    assert(rows(CdcStream.metrics(spark, root)) == Set(metricsRow(3, 120), metricsRow(4, 80)))
  }

  test("a streamed merge-on-read epoch runs 4 Spark jobs, its scheduled fold adds none") {
    val base = tmp()
    val cfg = GenConfig(numConvs = 30, maxTurns = 12, numEvents = 2400)
    writeEventFiles(cfg, s"$base/events", nFiles = 4)
    val table = LakeTable.create(spark, s"$base/table", schemaVer = 1, numBuckets = 8)
    val (_, seen) = JobProbe.during(spark) {
      CdcStream.runAvailable(spark, table, s"$base/events", s"$base/cp",
        StreamConfig(maxFilesPerTrigger = 1,
          strategy = graft.cdc.WriteStrategy.MergeOnRead, compactEveryEpochs = 2))
    }
    val perEpoch = seen.jobs.groupBy(j =>
      Option(j.properties.getProperty("streaming.sql.batchId")).map(_.toLong).getOrElse(-1L))
      .map { case (e, js) => e -> js.size }
    // epochs 1 and 3 are written copy-on-write; each touches all 8
    // buckets, so the trailing compaction finds no delta left and runs no job
    assert(perEpoch == Map(0L -> 4, 1L -> 4, 2L -> 4, 3L -> 4), perEpoch.toString)
    assert(!table.current.maint)
    assert(table.current.files.forall(_.kind == graft.lake.FileEntry.Base))
    assert(stateOf(table) == oracleOf(cfg))
  }

  /** Events of one conversation in one file, every other event in another:
    * whichever file a scheduled epoch reads, it leaves buckets untouched
    * that carry the other epoch's deltas.
    */
  private def writeSplitFiles(cfg: GenConfig, dir: String): Seq[org.apache.spark.sql.DataFrame] = {
    import spark.implicits._
    val all = ChangeGen.emittedEvents(spark, cfg).collect().toSeq
    val lone = all.head.conv_id
    val (one, rest) = all.partition(_.conv_id == lone)
    Seq(rest, one).zipWithIndex.map { case (chunk, i) =>
      StreamFiles.writeFlat(spark.createDataset(chunk).toDF(), dir, f"chunk-$i%04d")
      spark.createDataset(chunk).toDF()
    }
  }

  test("a scheduled epoch that leaves delta buckets untouched still ends with base files only") {
    val base = tmp()
    val cfg = GenConfig(numConvs = 20, maxTurns = 10, numEvents = 1200)
    writeSplitFiles(cfg, s"$base/events")
    val table = LakeTable.create(spark, s"$base/table", schemaVer = 1, numBuckets = 8)
    CdcStream.runAvailable(spark, table, s"$base/events", s"$base/cp",
      StreamConfig(maxFilesPerTrigger = 1,
        strategy = graft.cdc.WriteStrategy.MergeOnRead, compactEveryEpochs = 2))
    // the trailing compaction folded the untouched delta buckets
    assert(table.current.maint)
    assert(table.current.files.forall(_.kind == graft.lake.FileEntry.Base))
    assert(table.current.rows == table.read().count())
    assert(stateOf(table) == oracleOf(cfg))
  }

  test("a fenced replay of a scheduled epoch still folds the delta stack") {
    val base = tmp()
    val cfg = GenConfig(numConvs = 20, maxTurns = 10, numEvents = 1200)
    val events = s"$base/events"
    val staged = s"$base/staged"
    val Seq(_, second) = writeSplitFiles(cfg, staged)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    def release(i: Int): Unit = {
      fs.mkdirs(new org.apache.hadoop.fs.Path(events))
      assert(fs.rename(new org.apache.hadoop.fs.Path(f"$staged/chunk-$i%04d.parquet"),
        new org.apache.hadoop.fs.Path(f"$events/chunk-$i%04d.parquet")))
    }
    val table = LakeTable.create(spark, s"$base/table", schemaVer = 1, numBuckets = 8)
    val sc = StreamConfig(maxFilesPerTrigger = 1,
      strategy = graft.cdc.WriteStrategy.MergeOnRead, compactEveryEpochs = 2)
    release(0)
    CdcStream.runAvailable(spark, table, events, s"$base/cp", sc) // epoch 0: deltas
    // epoch 1 committed as the stream would, then a crash before its
    // compaction and before the checkpoint advanced
    assert(MergeApply.applyBatch(table, second, 1L, writerId = CdcStream.writerIdOf(s"$base/cp"),
      strategy = graft.cdc.WriteStrategy.CopyOnWrite).applied)
    val committed = table.current.id
    assert(table.current.files.exists(_.kind == graft.lake.FileEntry.Delta))
    release(1)
    CdcStream.runAvailable(spark, table, events, s"$base/cp", sc)
    // the replay was fenced, and its scheduled compaction still ran
    assert(table.current.maint && table.current.parent == committed)
    assert(table.current.files.forall(_.kind == graft.lake.FileEntry.Base))
    assert(stateOf(table) == oracleOf(cfg))
    assert(CdcStream.metrics(spark, table.root).count() == 2L)
  }
}
