package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analytics.RelationalQueries
import graft.cdc.MergeApply
import graft.gen.ChangeGen
import graft.gen.ChangeGen.GenConfig
import graft.lake.LakeTable
import graft.sim.SimilarityQueries
import graft.textops.TextQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator catalog (SURVEY.md §2 ▸ rows + the
  * training-data-pipeline operators); `oracleSql` carries the DuckDB twin
  * for every SQL-expressible entry. Engine-native operators (CDC replay,
  * LSH/MinHash/SimHash candidate generation) are exposed without oracles
  * and verified by the ScalaTest suites instead.
  */
object SparkEntry {

  private val catalog = RelationalQueries.all ++ TextQueries.all ++
    SimilarityQueries.all ++ graft.sources.JsonMetadata.all ++
    graft.analytics.IncrementalStats.all ++ graft.cdc.Scd2History.all ++
    graft.analytics.MaterializedPairs.all ++
    graft.streaming.StreamAnalytics.all ++ graft.etl.ExpressionPipeline.all

  /** Flagship: end-to-end CDC replay — generate a deterministic change
    * stream, merge-apply it into a fresh lake table in 3 epochs (schema
    * evolving v1→v2 mid-stream), return the final transcript state.
    */
  def entry(spark: SparkSession): DataFrame = cdcReplay(spark, events = 3000L, batches = 3)

  /** Where the driver-checked replay dumps its change log so the DuckDB
    * oracle can recompute the expected final state from the same events
    * (driver and verify run on the same host; /tmp is shared).
    */
  private val changeLogDump = "/tmp/graft_oracle/cdc_change_events"

  private def cdcReplay(
      spark: SparkSession, events: Long, batches: Int,
      dumpDir: Option[String] = None,
      strategy: graft.cdc.WriteStrategy = graft.cdc.WriteStrategy.CopyOnWrite,
      compactMidway: Boolean = false,
      expireMaintenance: Boolean = false,
      rebucketMidway: Option[Int] = None): DataFrame = {
    val cfg = GenConfig(numEvents = events)
    dumpDir.foreach(d =>
      ChangeGen.events(spark, cfg).toDF().coalesce(1).write.mode("overwrite").parquet(d))
    val root = java.nio.file.Files.createTempDirectory("graft-entry-").toString + "/transcripts"
    val table = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 8)
    val per = (cfg.totalRows + batches - 1) / batches
    (0 until batches).foreach { b =>
      val slice = ChangeGen.eventSlice(spark, cfg, b * per, math.min(cfg.totalRows, (b + 1) * per))
      MergeApply.applyBatch(table, slice.toDF(), epochId = b.toLong, strategy = strategy)
      // Exercise the delta→base fold in the middle of the replay so the
      // driver-checked result covers base+delta interleaving, not just a
      // pure delta stack.
      if (compactMidway && b == batches / 2 - 1) table.compact(foldDeltas = true)
      // Snapshot expiry + orphan GC mid-replay: subsequent epochs read and
      // merge against a table whose history was just garbage-collected —
      // the staging-purge lifecycle (S10) on the driver-checked path.
      if (expireMaintenance && b == batches / 2 - 1) {
        // 0, not 1: a copy-on-write bucket holds one file, so any higher
        // threshold compacts nothing
        assert(table.compact(maxFilesPerBucket = 0).applied,
          "the mid-replay compaction rewrote nothing")
        table.expireSnapshots(keepLast = 1, orphanGraceMs = 0L)
      }
      // Bucket-count evolution mid-replay: later epochs merge into the
      // re-routed layout; the final state must be invariant to it.
      if (rebucketMidway.isDefined && b == batches / 2 - 1)
        table.rebucket(rebucketMidway.get)
    }
    // post-replay expiry: the final read below runs over a fully GC'd table
    if (expireMaintenance) table.expireSnapshots(keepLast = 1, orphanGraceMs = 0L)
    table.read().orderBy("conv_id", "turn_idx")
  }

  /** DuckDB oracle for the flagship: last-writer-wins by LSN per
    * (conv_id, turn_idx), tombstones win and stay dead — the naive
    * restatement of the merge kernel over the dumped change log.
    */
  private val cdcReplayOracle: String =
    s"""SELECT conv_id, turn_idx, role, text, tool, ts FROM (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                       ORDER BY lsn DESC) AS rn
          FROM read_parquet('$changeLogDump/*.parquet'))
        WHERE rn = 1 AND op <> 'D'
        ORDER BY conv_id, turn_idx"""

  private val morChangeLogDump = "/tmp/graft_oracle/cdc_change_events_mor"

  private def morOracle: String =
    cdcReplayOracle.replace(changeLogDump, morChangeLogDump)

  private val expireChangeLogDump = "/tmp/graft_oracle/cdc_change_events_expire"

  private def expireOracle: String =
    cdcReplayOracle.replace(changeLogDump, expireChangeLogDump)

  /** M4 ▸ merge-mode replay: batch 0 applies as plain UPSERT, batch 1
    * under the given restricted mode. The dump carries the batch index so
    * the oracle can replay the gate: INSERT_ONLY admits batch-1 events
    * only for keys with no live row after batch 0 (tombstones dropped
    * pre-gate); UPDATE_ONLY admits only keys with a live row (tombstones
    * kept — a matched delete kills the row). Winners are then re-resolved
    * by LSN over (batch-0 survivors ∪ admitted batch-1 events) exactly
    * like the merge kernel — NOT "batch 1 always wins": duplicate
    * re-emissions in batch 1 can carry original batch-0 LSNs, which must
    * lose to a later current row.
    */
  private def modeReplay(spark: SparkSession, mode: graft.cdc.MergeMode,
      dump: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val cfg = GenConfig(numEvents = 2000L)
    val per = cfg.totalRows / 2
    val s0 = ChangeGen.eventSlice(spark, cfg, 0, per).toDF()
    val s1 = ChangeGen.eventSlice(spark, cfg, per, cfg.totalRows).toDF()
    s0.withColumn("_b", lit(0)).unionByName(s1.withColumn("_b", lit(1)))
      .coalesce(1).write.mode("overwrite").parquet(dump)
    val root = java.nio.file.Files.createTempDirectory("graft-mode-").toString + "/transcripts"
    val table = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 8)
    MergeApply.applyBatch(table, s0, epochId = 0L)
    MergeApply.applyBatch(table, s1, epochId = 1L, mode = mode)
    table.read().orderBy("conv_id", "turn_idx")
  }

  private val insertOnlyDump = "/tmp/graft_oracle/cdc_change_events_m4i"
  private val updateOnlyDump = "/tmp/graft_oracle/cdc_change_events_m4u"

  private val rebucketDump = "/tmp/graft_oracle/cdc_change_events_rbk"

  private def rebucketOracle: String =
    cdcReplayOracle.replace(changeLogDump, rebucketDump)

  private val changesDump = "/tmp/graft_oracle/cdc_change_events_chg"

  /** CDC-OUT replay: apply 4 epochs, bookmark the snapshot after epoch 1,
    * compact mid-window, then read the INCREMENTAL CHANGELOG between the
    * bookmark and the final state ([[graft.lake.LakeTable.readChangesSince]]).
    * The dump carries the batch index so the oracle recomputes the same
    * net diff directly from the log: LWW winners over the FULL log,
    * anti-joined against winners over the first two batches on
    * (key, lsn) — a key appears iff its winning event changed inside the
    * window (including late old-LSN arrivals that still win, which an
    * lsn-watermark restatement would miss), DELETE iff the new winner is a
    * tombstone (null payload on both sides).
    */
  private def changesSinceReplay(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val cfg = GenConfig(numEvents = 2000L)
    val batches = 4
    val per = (cfg.totalRows + batches - 1) / batches
    val slices = (0 until batches).map(b => ChangeGen.eventSlice(
      spark, cfg, b * per, math.min(cfg.totalRows, (b + 1) * per)).toDF())
    slices.zipWithIndex.map { case (s, b) => s.withColumn("_b", lit(b)) }
      .reduce(_ unionByName _)
      .coalesce(1).write.mode("overwrite").parquet(changesDump)
    val root = java.nio.file.Files.createTempDirectory("graft-chg-").toString + "/transcripts"
    val table = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 8)
    var fromId = -1L
    slices.zipWithIndex.foreach { case (s, b) =>
      MergeApply.applyBatch(table, s, epochId = b.toLong)
      if (b == 1) fromId = table.current.id
      // compaction INSIDE the window: makes every compacted bucket
      // diff-eligible, so the result proves the (key, lsn) anti-join
      // drops unchanged rows rather than leaning on bucket pruning
      if (b == 2) assert(table.compact(maxFilesPerBucket = 0).applied,
        "the mid-window compaction rewrote nothing")
    }
    table.readChangesSince(fromId).orderBy("conv_id", "turn_idx")
  }

  private val changesSinceOracle: String =
    s"""WITH log AS (SELECT * FROM read_parquet('$changesDump/*.parquet')),
          wt AS (SELECT * FROM (
                   SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                                ORDER BY lsn DESC) AS rn FROM log)
                 WHERE rn = 1),
          wf AS (SELECT conv_id, turn_idx, lsn FROM (
                   SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                                ORDER BY lsn DESC) AS rn
                   FROM log WHERE _b <= 1)
                 WHERE rn = 1)
        SELECT t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts,
               CASE WHEN t.op = 'D' THEN 'DELETE' ELSE 'UPSERT' END AS change_type
        FROM wt t LEFT JOIN wf f
          ON t.conv_id = f.conv_id AND t.turn_idx = f.turn_idx AND t.lsn = f.lsn
        WHERE f.lsn IS NULL
        ORDER BY t.conv_id, t.turn_idx"""

  /** Batch-0 winners (`b0w`, tombstones INCLUDED) carry lsn and op so the
    * final resolve ranks them against batch-1 candidates exactly like the
    * merge kernel ranks current rows against the admitted batch: a batch-1
    * duplicate re-emission with an original (older) lsn must lose to the
    * tombstone that out-ranked it in batch 0. The GATE, by contrast, sees
    * only `live0` (non-deleted winners) — a dead key is "not matched".
    * (No `--` comments inside the SQL: oracleSql flattens to one line.)
    */
  private def modeOracle(dump: String, gate: String): String =
    s"""WITH b0w AS (
          SELECT conv_id, turn_idx, lsn, op, role, text, tool, ts FROM (
            SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                         ORDER BY lsn DESC) AS rn
            FROM read_parquet('$dump/*.parquet') WHERE _b = 0)
          WHERE rn = 1),
        live0 AS (SELECT * FROM b0w WHERE op <> 'D'),
        cand1 AS (
          SELECT conv_id, turn_idx, lsn, op, role, text, tool, ts
          FROM read_parquet('$dump/*.parquet') d WHERE _b = 1 AND $gate),
        resolved AS (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                       ORDER BY lsn DESC) AS rn
          FROM (SELECT * FROM b0w UNION ALL SELECT * FROM cand1))
        SELECT conv_id, turn_idx, role, text, tool, ts FROM resolved
        WHERE rn = 1 AND op <> 'D' ORDER BY conv_id, turn_idx"""

  private def insertOnlyOracle: String = modeOracle(insertOnlyDump,
    """d.op <> 'D' AND NOT EXISTS (SELECT 1 FROM live0 l
         WHERE l.conv_id = d.conv_id AND l.turn_idx = d.turn_idx)""")

  private def updateOnlyOracle: String = modeOracle(updateOnlyDump,
    """EXISTS (SELECT 1 FROM live0 l
         WHERE l.conv_id = d.conv_id AND l.turn_idx = d.turn_idx)""")

  private val pointReadDump = "/tmp/graft_oracle/cdc_change_events_ptr"
  private val rangeReadDump = "/tmp/graft_oracle/cdc_change_events_rng"
  private val renameDropDump = "/tmp/graft_oracle/cdc_change_events_rnd"

  /** S7 rename/drop evolution on the driver-checked path: a custom
    * registry whose v2 RENAMES `tool` → `tool_name` and DROPS `role`.
    * The generator's LSN-staged schema_ver (v1 below 60% of the stream)
    * makes the first epochs write v1 files and later epochs v2, so the
    * final read exercises both evolution directions at once: v1-written
    * files read under the new name / without the dropped column
    * (conformVersioned), while the wire events — which always carry the
    * OLD `tool` column — feed the renamed target through the alias probe
    * (conformEvents). The oracle restates it as a projection: LWW winners
    * with `tool AS tool_name` and no `role`.
    */
  private def renameDropReplay(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val cfg = GenConfig(numEvents = 2000L)
    ChangeGen.events(spark, cfg).toDF().coalesce(1).write.mode("overwrite")
      .parquet(renameDropDump)
    val v1 = graft.model.Model.transcriptSchemaV2 // (conv_id, turn_idx, role, text, tool, ts)
    val v2 = StructType(v1.fields.filterNot(_.name == "role").map {
      case f if f.name == "tool" => f.copy(name = "tool_name")
      case f => f
    })
    val root = java.nio.file.Files.createTempDirectory("graft-rnd-").toString + "/transcripts"
    val table = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 8,
      registry = Map(1 -> v1, 2 -> v2),
      renames = Map(2 -> Map("tool" -> "tool_name")))
    val batches = 4
    val per = (cfg.totalRows + batches - 1) / batches
    (0 until batches).foreach { b =>
      val slice = ChangeGen.eventSlice(spark, cfg, b * per, math.min(cfg.totalRows, (b + 1) * per))
      MergeApply.applyBatch(table, slice.toDF(), epochId = b.toLong)
    }
    table.read().orderBy("conv_id", "turn_idx")
  }

  private val renameDropOracle: String =
    s"""SELECT conv_id, turn_idx, text, tool AS tool_name, ts FROM (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                       ORDER BY lsn DESC) AS rn
          FROM read_parquet('$renameDropDump/*.parquet'))
        WHERE rn = 1 AND op <> 'D'
        ORDER BY conv_id, turn_idx"""

  /** Stats-pruned read paths on the driver-checked path: replay 4 epochs
    * (≤4 files per bucket — manifest min/max skipping has real work to
    * do), then read back one conversation ([[LakeTable.readKey]]) or a
    * key range ([[LakeTable.readKeyRange]]). The oracle recomputes LWW
    * winners from the dumped log restricted to the same keys — a file
    * wrongly skipped loses rows, a wrongly-kept file double-counts
    * nothing (the resolve re-derives winners), so the hash check is
    * sensitive to exactly the skipping bugs.
    */
  private def keyReadReplay(spark: SparkSession, dump: String,
      read: LakeTable => DataFrame): DataFrame = {
    val cfg = GenConfig(numEvents = 2000L)
    ChangeGen.events(spark, cfg).toDF().coalesce(1).write.mode("overwrite").parquet(dump)
    val root = java.nio.file.Files.createTempDirectory("graft-keyread-").toString + "/transcripts"
    val table = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 8)
    val batches = 4
    val per = (cfg.totalRows + batches - 1) / batches
    (0 until batches).foreach { b =>
      val slice = ChangeGen.eventSlice(spark, cfg, b * per, math.min(cfg.totalRows, (b + 1) * per))
      MergeApply.applyBatch(table, slice.toDF(), epochId = b.toLong)
    }
    read(table).orderBy("conv_id", "turn_idx")
  }

  private def keyReadOracle(dump: String, where: String): String =
    s"""SELECT conv_id, turn_idx, role, text, tool, ts FROM (
          SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                       ORDER BY lsn DESC) AS rn
          FROM read_parquet('$dump/*.parquet'))
        WHERE rn = 1 AND op <> 'D' AND $where
        ORDER BY conv_id, turn_idx"""

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.run).toMap +
      ("cdc_replay_final_state" ->
        ((s: SparkSession, _: String) => cdcReplay(s, 2000L, 2, Some(changeLogDump)))) +
      // Merge-on-read replay: delta appends + a midway fold, same LWW
      // final-state contract, checked against the same row_number oracle.
      ("cdc_replay_mor" ->
        ((s: SparkSession, _: String) => cdcReplay(s, 2000L, 4, Some(morChangeLogDump),
          strategy = graft.cdc.WriteStrategy.MergeOnRead, compactMidway = true))) +
      // Maintenance lifecycle on the driver-checked path: compaction,
      // snapshot expiry and orphan-file GC run MID-replay and post-replay;
      // the final state must still equal the naive LWW oracle.
      ("cdc_replay_expire" ->
        ((s: SparkSession, _: String) => cdcReplay(s, 2000L, 4, Some(expireChangeLogDump),
          expireMaintenance = true))) +
      // M4 merge modes on the driver-checked path: batch 1 under
      // INSERT_ONLY / UPDATE_ONLY, oracle replays the gate + LWW resolve.
      ("m4_insert_only" ->
        ((s: SparkSession, _: String) =>
          modeReplay(s, graft.cdc.MergeMode.InsertOnly, insertOnlyDump))) +
      ("m4_update_only" ->
        ((s: SparkSession, _: String) =>
          modeReplay(s, graft.cdc.MergeMode.UpdateOnly, updateOnlyDump))) +
      // CDC-out: incremental changelog read between two snapshots
      ("cdc_changes_since" ->
        ((s: SparkSession, _: String) => changesSinceReplay(s))) +
      // Bucket-count evolution mid-replay: 8 → 32 buckets between epochs,
      // final state invariant under the same LWW oracle.
      ("cdc_replay_rebucket" ->
        ((s: SparkSession, _: String) => cdcReplay(s, 2000L, 4, Some(rebucketDump),
          rebucketMidway = Some(32)))) +
      // Stats-pruned point / range reads (manifest min/max file skipping)
      ("cdc_point_read" ->
        ((s: SparkSession, _: String) => keyReadReplay(s, pointReadDump,
          _.readKey("conv-000003")))) +
      ("cdc_range_read" ->
        ((s: SparkSession, _: String) => keyReadReplay(s, rangeReadDump,
          _.readKeyRange("conv-000100", "conv-000149")))) +
      // S7 rename/drop schema evolution mid-replay under the LWW oracle
      ("cdc_replay_rename_drop" ->
        ((s: SparkSession, _: String) => renameDropReplay(s)))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    (catalog.flatMap(q => q.oracle.map(q.name -> _)).toMap +
      ("cdc_replay_final_state" -> cdcReplayOracle) +
      ("cdc_replay_mor" -> morOracle) +
      ("cdc_replay_expire" -> expireOracle) +
      ("m4_insert_only" -> insertOnlyOracle) +
      ("m4_update_only" -> updateOnlyOracle) +
      ("cdc_changes_since" -> changesSinceOracle) +
      ("cdc_replay_rebucket" -> rebucketOracle) +
      ("cdc_point_read" -> keyReadOracle(pointReadDump, "conv_id = 'conv-000003'")) +
      ("cdc_range_read" -> keyReadOracle(rangeReadDump,
        "conv_id BETWEEN 'conv-000100' AND 'conv-000149'")) +
      ("cdc_replay_rename_drop" -> renameDropOracle))
      .map { case (k, v) => k -> v.linesIterator.map(_.trim).mkString(" ") }
}
