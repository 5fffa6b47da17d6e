package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.lake.{Commit, LakeTable, Snapshot}
import graft.model.Model

/** The streaming face of the engine: tail a change-event log (file-based
  * source — the sandbox's Kafka stand-in) and merge-apply each micro-batch
  * into the lake table via foreachBatch.
  *
  * Exactly-once chain (north rule):
  *   checkpointed source offsets → foreachBatch epochId → fenced snapshot
  *   commit. A crash between the table commit and the checkpoint advance
  *   replays the epoch; the fence turns the replay into a no-op, so the
  *   table never double-applies (reference analog: content-hash batch
  *   dedup, Docs/etl_requirements_reviewed_by_sr.md:162-165).
  *
  * Per-batch observability (reference analog: meta.etl_process_log rows
  * per step/batch, enhanced_main_etl_logging.py:219-286):
  *   - `<table>/_metrics`: one row per committed epoch — input events,
  *     deduped keys, touched buckets, merge wall, events/sec, snapshot id
  *   - `<table>/_qc`: one batch-quality row per committed epoch
  *   - `<table>/_lineage`: per-partition lineage — source file → epoch →
  *     committed snapshot id (north rule: "source offset → snapshot ID")
  * The epoch's record is durable WITH its commit: the snapshot summary
  * holds it ([[BatchStats.of]]), and the source files come from the
  * checkpoint's offset log. So the rows are emitted from that record
  * whether the epoch applied in this run or in a run that crashed between
  * publish and emit — the replay re-emits identical rows, and
  * overwrite-by-epoch emission never duplicates them. Channel rows are
  * written from the DRIVER (parquet-mr, no Spark job): a streamed epoch's
  * Spark jobs are its merge and maintenance, not its bookkeeping — the
  * Structured Streaming paper's per-trigger progress record is likewise a
  * driver-side record.
  */
object CdcStream {

  /** Stream settings.
    *
    * @param strategy copy-on-write (default) or merge-on-read delta
    *                  appends (see [[WriteStrategy]])
    * @param compactEveryEpochs under merge-on-read, fold the delta stack
    *                  back to base files every N epochs (0 = never): epoch
    *                  N-1 of each period is written copy-on-write, which
    *                  folds the buckets it touches in its own merge, then a
    *                  compaction folds the delta buckets it left untouched
    *                  (a fenceless maintenance commit, so a crash
    *                  mid-compaction is harmless)
    * @param retry    engine-level retry of a failed epoch apply, config
    *                  data via [[graft.enrich.RulesConfig]]'s `retry`
    *                  section (see [[RetryPolicy]]; deterministic failures
    *                  never retry). Retrying the whole foreachBatch body is
    *                  safe: the epoch fence makes an already-committed
    *                  apply a no-op and metric emission is
    *                  overwrite-by-epoch.
    * @param expireEveryEpochs run snapshot expiry + orphan GC every N
    *                  applied epochs (0 = never): the in-stream face of the
    *                  retention lifecycle, so an unattended long-running
    *                  stream's `_meta`/data graveyard stays bounded without
    *                  an out-of-band maintenance job. Retention knobs
    *                  mirror [[LakeTable.expireSnapshots]]; the orphan
    *                  grace defaults to the multi-writer-safe value — only
    *                  a deployment certain it is the sole writer should
    *                  lower it.
    */
  final case class StreamConfig(
      maxFilesPerTrigger: Int = 4,
      mode: MergeMode = MergeMode.Upsert,
      strategy: WriteStrategy = WriteStrategy.CopyOnWrite,
      compactEveryEpochs: Int = 0,
      retry: RetryPolicy = RetryPolicy.default,
      expireEveryEpochs: Int = 0,
      expireKeepLast: Int = 2,
      expireOrphanGraceMs: Long = LakeTable.defaultOrphanGraceMs)

  /** Stream identity for epoch fencing: a UUID minted on first use and
    * persisted INSIDE the checkpoint (`<checkpoint>/graft-writer-id`) —
    * the (txnAppId, version)-style identity Delta keeps in its own
    * checkpoint state. Stable across restarts of the SAME checkpoint
    * (epochIds are scoped to a checkpoint); a WIPED or fresh checkpoint
    * mints a new id. Hashing the checkpoint PATH (the previous scheme)
    * breaks exactly the wipe case: a checkpoint deleted for corruption
    * recovery and re-created at the same path restarts epochs at 0 under
    * the OLD identity, so its first epochs fall under the old watermark
    * and genuinely new batches are silently fenced — data loss with no
    * error. A checkpoint without the id file mints one, whatever else it
    * holds. [[Commit.publish]] settles concurrent first starts (the
    * loser reads the winner's id, never a partly written one).
    */
  def writerIdOf(checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "graft-writer-id")
    // Resolve the checkpoint FS through the SESSION's Hadoop conf when a
    // session exists (spark.hadoop.* carries s3a/abfs/gcs credentials and
    // endpoints — a bare Configuration() can fail to authenticate or
    // resolve a different FS than the stream itself); bare defaults only
    // when no session is up at all.
    val conf = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(LakeTable.hadoopConf).getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) return Commit.readString(fs, p).trim
    val fresh = "w-" + java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    fs.mkdirs(p.getParent)
    if (Commit.publish(fs, p, fresh)) fresh
    else Commit.readString(fs, p).trim
  }

  /** Start tailing `eventsDir` into `table`. The trigger runs over the
    * files present at start and stops (AvailableNow).
    */
  def start(
      spark: SparkSession,
      table: LakeTable,
      eventsDir: String,
      checkpointDir: String,
      cfg: StreamConfig = StreamConfig()): StreamingQuery = {
    val wid = writerIdOf(checkpointDir)
    val events = spark.readStream
      .schema(Model.changeEventSchema)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(eventsDir)
    // Retry scope is PER PHASE, not the whole epoch body: a transient
    // failure in a post-commit write retries only that write, not the
    // (now epoch-fenced) merge with its head-agg job. Each phase retries
    // safely on its own: the merge is commit-fenced, the channels
    // overwrite by epoch from the committed record, and compaction is
    // idempotent maintenance.
    val writer = events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // A scheduled compaction epoch is written copy-on-write: the
        // touched buckets are rewritten LWW-resolved with their deltas
        // folded in by the merge itself, so the trailing compaction only
        // folds the delta buckets this batch did not touch.
        val compacts = cfg.compactEveryEpochs > 0 &&
          epochId % cfg.compactEveryEpochs == (cfg.compactEveryEpochs - 1)
        val stats = Retry.run(cfg.retry, s"epoch $epochId apply") {
          MergeApply.applyBatch(table, batch, epochId, mode = cfg.mode, writerId = wid,
            strategy = if (compacts) WriteStrategy.CopyOnWrite else cfg.strategy)
        }
        Retry.run(cfg.retry, s"epoch $epochId observability") {
          val record = if (stats.applied) Some(stats) else committedRecord(table, epochId, wid)
          record.foreach { r =>
            emitMetrics(spark, table.root, wid, r)
            emitQc(spark, table.root, wid, r)
            emitLineage(spark, table.root, wid, r, sourceFilesOf(spark, checkpointDir, epochId))
          }
        }
        // Maintenance fires on the SCHEDULE, not on `applied`: a fenced
        // re-run of the scheduled epoch must not skip its compaction round
        // (the delta stack would grow for another full period). After a
        // copy-on-write epoch it folds only untouched delta buckets, and
        // with none left it is a no-op that starts no Spark job.
        if (compacts)
          Retry.run(cfg.retry, s"epoch $epochId compaction") {
            table.compact(foldDeltas = true)
          }
        if (cfg.expireEveryEpochs > 0 &&
          epochId % cfg.expireEveryEpochs == (cfg.expireEveryEpochs - 1))
          Retry.run(cfg.retry, s"epoch $epochId expiry") {
            val r = table.expireSnapshots(cfg.expireKeepLast, cfg.expireOrphanGraceMs)
            // retention activity is part of the stream's operational log
            if (r.snapshotsDeleted + r.dataFilesDeleted + r.commitDirsReclaimed > 0)
              System.err.println(s"[stream] epoch $epochId expiry: $r")
            r
          }
        ()
      }
    writer.trigger(Trigger.AvailableNow()).start()
  }

  /** Run the stream to completion over the files currently in `eventsDir`
    * (AvailableNow) and wait — the batch-replay entry point used by tests
    * and the bench.
    */
  def runAvailable(
      spark: SparkSession,
      table: LakeTable,
      eventsDir: String,
      checkpointDir: String,
      cfg: StreamConfig = StreamConfig()): Unit = {
    start(spark, table, eventsDir, checkpointDir, cfg).awaitTermination()
  }

  /** The record of writer `wid`'s commit of `epochId`, read back from the
    * table — for a replayed epoch, whose commit applied in a run that may
    * have crashed before emitting its rows. Walks parents from the current
    * snapshot past maintenance commits (they carry the epoch id forward)
    * and past other writers' commits stacked on top, and stops as soon as
    * this writer's watermark no longer covers the epoch, so an epoch that
    * never committed reads one manifest. The walk reads snapshot headers
    * only, never a file list. An expired target means the record is gone:
    * None, since absence beats wrong attribution.
    */
  private[graft] def committedRecord(table: LakeTable, epochId: Long,
      wid: String): Option[BatchStats] = {
    def isTarget(s: Snapshot) = !s.maint && s.epochId == epochId && s.writerId == wid
    var cur = table.current
    while (!isTarget(cur) && cur.parent >= 0 && Commit.alreadyApplied(cur, epochId, wid))
      cur = try table.header(cur.parent)
        catch { case _: java.io.FileNotFoundException => return None }
    if (isTarget(cur)) BatchStats.of(cur) else None
  }

  /** The authoritative source-offset record for an epoch: the
    * FileStreamSource commit log at `<checkpoint>/sources/0/<epochId>`
    * (one JSON entry per input file). By the time foreachBatch sees the
    * batch it is a LogicalRDD with no file provenance, so lineage is read
    * from the offset log — which is exactly the "source offset" the north
    * rule asks to link to the committed snapshot id.
    *
    * Every compact-interval-th batch (CompactibleFileStreamLog, default
    * 10) is written as `<epochId>.compact` holding ALL entries so far
    * instead of a plain per-batch file — for those epochs the compact file
    * is read and filtered to THIS batch's entries by their `batchId`
    * field, else 1 in 10 epochs would silently record no lineage.
    */
  private def sourceFilesOf(spark: SparkSession, checkpointDir: String, epochId: Long): Seq[String] = {
    // Only a genuinely ABSENT offset-log entry maps to "no files" (an
    // epoch the source wrote no entry for). Every other failure — a
    // transient FS error opening/reading the log, a parse error — must
    // PROPAGATE so the observability retry re-runs the phase: swallowing
    // it here would record a permanent '<none>' lineage row (the
    // overwrite-by-epoch emission makes that loss final) while Retry.run
    // sees success; the same rule channel() states for its reads.
    val dir = new org.apache.hadoop.fs.Path(s"$checkpointDir/sources/0")
    val fs = dir.getFileSystem(LakeTable.hadoopConf(spark))
    val plain = new org.apache.hadoop.fs.Path(dir, epochId.toString)
    val compacted = new org.apache.hadoop.fs.Path(dir, s"$epochId.compact")
    // exists→read is not atomic against the source's log compactor: the
    // plain per-batch file can vanish between the two calls when this epoch
    // IS the compaction batch. Its entries live on in `<epochId>.compact`,
    // so a lost race re-routes there — returning Nil would permanently
    // record '<none>' lineage for a batch whose offsets are still on disk.
    val attempt: Option[(String, Boolean)] =
      (if (fs.exists(plain))
         try Some((Commit.readString(fs, plain), false))
         catch { case _: java.io.FileNotFoundException => None } // raced the compactor
       else None)
        .orElse(
          if (fs.exists(compacted))
            try Some((Commit.readString(fs, compacted), true))
            catch { case _: java.io.FileNotFoundException => None }
          else None)
    val (content, fromCompact) = attempt.getOrElse(return Nil)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def keep(n: com.fasterxml.jackson.databind.JsonNode): Boolean =
      !fromCompact || !n.has("batchId") || n.get("batchId").asLong() == epochId
    content.linesIterator.filter(l => l.startsWith("{") || l.startsWith("["))
      .flatMap { line =>
        val n = mapper.readTree(line)
        if (n.isArray)
          (0 until n.size()).map(n.get).filter(keep)
            .map(_.get("path").asText())
        else if (n.has("path") && keep(n)) Seq(n.get("path").asText())
        else Nil
      }.toSeq
  }

  /** One metrics row per committed (writer, epoch), written OVERWRITE into a
    * per-writer per-epoch directory — re-emission after a crash replaces
    * rather than duplicates. The WRITER scoping is load-bearing: epochIds
    * restart at 0 under a fresh checkpoint (a first-class hand-over the
    * per-writer commit fence exists for), so an epoch-only key would let
    * writer B's epoch 0 clobber writer A's epoch-0 observability rows.
    */
  private[graft] def emitMetrics(spark: SparkSession, root: String, wid: String,
      s: BatchStats): Unit = {
    val eps = if (s.durationMs > 0) s.inputEvents * 1000.0 / s.durationMs else 0.0
    writeChannel(spark, s"$root/_metrics/$wid/e${s.epochId}", metricsSchema,
      Seq(Seq(wid, s.epochId, s.snapshotId, s.inputEvents, s.dedupedKeys, s.touchedBuckets,
        s.schemaVer, s.maxLsn, s.liveRows, s.durationMs, eps, s.observedRows, s.observedLive)))
  }

  /** S9 ▸ QC channel: per-epoch batch-quality metrics — tombstone count
    * over input events (head agg, narrow columns only) and null-payload
    * count over the RESOLVED live rows (observed on the merge write plan,
    * so the fat payload column is never scanned twice) — advisory channel,
    * emitted per committed epoch (reference: _load_qc_metrics study-level QC
    * rows, Scripts/python/enhanced_main_etl.py:998-1020).
    */
  private[graft] def emitQc(spark: SparkSession, root: String, wid: String,
      s: BatchStats): Unit = {
    val delRate = if (s.inputEvents > 0) s.qcDeletes.toDouble / s.inputEvents else 0.0
    val nullRate = if (s.observedLive > 0) s.qcNullText.toDouble / s.observedLive else 0.0
    writeChannel(spark, s"$root/_qc/$wid/e${s.epochId}", qcSchema,
      Seq(Seq(wid, s.epochId, s.inputEvents, s.qcDeletes, s.qcNullText, delRate, nullRate)))
  }

  /** Write one channel directory (`<channel>/<writer>/e<N>`) from the
    * driver, with no Spark job: parquet-mr's example writer, schema
    * converted exactly as a Spark write would. The file lands in a hidden
    * sibling (`.e<N>-<id>`, skipped by every Spark listing, so a crash
    * leaves debris no reader sees); the old `e<N>` is then deleted and
    * the sibling renamed into place — overwrite-by-epoch, the layout
    * [[channel]] reads.
    */
  private def writeChannel(spark: SparkSession, dir: String, schema: StructType,
      rows: Seq[Seq[Any]]): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroup
    val conf = LakeTable.hadoopConf(spark)
    val target = new Path(dir)
    val fs = target.getFileSystem(conf)
    val staged = new Path(target.getParent,
      s".${target.getName}-${java.util.UUID.randomUUID.toString.take(8)}")
    val msg = new org.apache.spark.sql.execution.datasources.parquet
      .SparkToParquetSchemaConverter(spark.sessionState.conf).convert(schema)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(new Path(staged, "part-00000.parquet"), conf))
      .withConf(conf).withType(msg)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r =>
      val g = new SimpleGroup(msg)
      schema.fields.iterator.zip(r.iterator).zipWithIndex.foreach {
        case ((_, null), _) => // optional field left unset = null
        case ((f, v), i) => f.dataType match {
          case StringType => g.add(i, v.asInstanceOf[String])
          case LongType => g.add(i, v.asInstanceOf[Long])
          case IntegerType => g.add(i, v.asInstanceOf[Int])
          case DoubleType => g.add(i, v.asInstanceOf[Double])
        }
      }
      w.write(g)
    } finally w.close()
    fs.delete(target, true)
    if (!fs.rename(staged, target))
      throw new java.io.IOException(s"could not move channel rows $staged into $target")
  }

  /** Cold-start safe read of an observability channel: a table where no
    * epoch has applied yet (or whose every batch was empty/fenced) has no
    * channel directory — monitoring must see an empty table with the
    * channel's schema, not an AnalysisException.
    */
  private def channel(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    // Only a MISSING path means cold start. Any other probe failure
    // (transient FS outage, permissions) must propagate — mapping it to
    // "empty channel" would tell monitoring "no epochs applied" while the
    // data is intact, with the error swallowed.
    val exists = try p.getFileSystem(LakeTable.hadoopConf(spark)).exists(p)
      catch { case _: java.io.FileNotFoundException => false }
    if (exists) spark.read.option("recursiveFileLookup", "true").schema(schema).parquet(dir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  private val qcSchema = StructType(Seq(
    StructField("writer_id", StringType),
    StructField("epoch_id", LongType), StructField("input_events", LongType),
    StructField("n_deletes", LongType), StructField("n_null_text", LongType),
    StructField("delete_rate", DoubleType), StructField("null_text_rate", DoubleType)))

  private val metricsSchema = StructType(Seq(
    StructField("writer_id", StringType),
    StructField("epoch_id", LongType), StructField("snapshot_id", LongType),
    StructField("input_events", LongType), StructField("deduped_keys", LongType),
    StructField("touched_buckets", IntegerType), StructField("schema_ver", IntegerType),
    StructField("max_lsn", LongType), StructField("live_rows", LongType),
    StructField("duration_ms", LongType), StructField("events_per_sec", DoubleType),
    StructField("observed_rows", LongType), StructField("observed_live", LongType)))

  private val lineageSchema = StructType(Seq(
    StructField("writer_id", StringType),
    StructField("source_file", StringType), StructField("epoch_id", LongType),
    StructField("snapshot_id", LongType)))

  /** Read back the QC table. */
  def qc(spark: SparkSession, tableRoot: String): DataFrame =
    channel(spark, s"$tableRoot/_qc", qcSchema)

  private[graft] def emitLineage(spark: SparkSession, root: String, wid: String,
      s: BatchStats, sourceFiles: Seq[String]): Unit = {
    val files = if (sourceFiles.isEmpty) Seq("<none>") else sourceFiles
    writeChannel(spark, s"$root/_lineage/$wid/e${s.epochId}", lineageSchema,
      files.map(f => Seq(wid, f, s.epochId, s.snapshotId)))
  }

  /** Read back the metrics table (per-batch observability surface). */
  def metrics(spark: SparkSession, tableRoot: String): DataFrame =
    channel(spark, s"$tableRoot/_metrics", metricsSchema)

  /** Read back the lineage table: source file → epoch → snapshot. */
  def lineage(spark: SparkSession, tableRoot: String): DataFrame =
    channel(spark, s"$tableRoot/_lineage", lineageSchema)
}
