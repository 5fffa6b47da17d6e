package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.RelationalQueries.Q
import graft.lake.{Commit, LakeTable}

/** M7 ▸ SCD2-lite history maintenance: every change to a key CLOSES the
  * key's active row (`effective_to` = the new change's sequence number,
  * `is_active` = false) and INSERTS a new active row — so the table holds
  * the full version history and "current state" is the `is_active` slice
  * (reference: study_disease_map close-out-and-insert,
  * Docs/etl_requirements_reviewed_by_sr.md:518-558; round 1 shipped only
  * the current-row READ — this is the write path).
  *
  * Set-oriented per micro-batch (no per-row loops):
  *   1. incoming versions: window `lead(ord)` per key inside the batch —
  *      each event opens a version, closed by the key's next event
  *   2. close-out: the stored active row of every touched key gets
  *      `effective_to` = the key's FIRST ord in the batch
  *   3. copy-on-write of touched buckets + epoch-fenced snapshot commit —
  *      the same exactly-once machinery as the transcript merge
  *
  * Arrival contract: batches are ordered on `ordCol` across batches (the
  * CDC stream's LSN monotonicity per key); within a batch any order works.
  * Attribute-change history only — key deletion is the LWW transcript
  * table's tombstone job (M1), mirroring the reference where the map table
  * never deletes.
  */
object Scd2History {

  final case class Scd2Config(
      keyCols: Seq[String],
      payloadCols: Seq[String],
      ordCol: String)

  /** History-table public schema: key + payload + version columns. */
  def schemaFor(cfg: Scd2Config, input: StructType): StructType =
    StructType(
      (cfg.keyCols ++ cfg.payloadCols).map(n => input(n)) ++ Seq(
        StructField("effective_from", LongType, nullable = false),
        StructField("effective_to", LongType, nullable = true),
        StructField("is_active", BooleanType, nullable = false)))

  def createTable(
      spark: SparkSession, root: String, cfg: Scd2Config,
      input: StructType, numBuckets: Int = 8): LakeTable =
    LakeTable.create(spark, root, schemaVer = 1, numBuckets = numBuckets,
      registry = Map(1 -> schemaFor(cfg, input)),
      keyCols = cfg.keyCols :+ "effective_from")

  /** Streaming face of the history table: tail a directory of change
    * files and close-out+insert each micro-batch — the same exactly-once
    * chain as the transcript stream (checkpointed source offsets →
    * per-writer epoch fence → content-hash re-delivery guard for the
    * non-idempotent close-out). Runs over the files currently present
    * (AvailableNow) and waits.
    */
  def streamAvailable(spark: SparkSession, table: LakeTable, cfg: Scd2Config,
      srcDir: String, checkpointDir: String, srcSchema: StructType): Unit = {
    val wid = CdcStream.writerIdOf(checkpointDir)
    // maxFilesPerTrigger is PINNED to 1, not exposed (same rule as
    // IncrementalStats.streamAvailable): the content-hash redelivery guard
    // compares whole batches, so it assumes a restarted stream re-chunks
    // the source into the SAME batches — one file per batch makes batch
    // boundaries a property of the immutable source files rather than of
    // trigger timing, the only chunking for which that always holds.
    val q = spark.readStream.schema(srcSchema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream.option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        applyBatch(table, cfg, batch, epochId, writerId = wid); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** Apply one batch of change records. Returns false when fenced/empty.
    *
    * Exactly-once: close-out+insert is NOT idempotent under re-apply (the
    * re-applied batch would close the versions it itself inserted), so the
    * fence is the table's PER-WRITER epoch watermark plus a batch content
    * hash — a stream restarted with a fresh checkpoint (new writerId,
    * epochs back at 0) is neither silently fenced nor double-applied
    * (reference analog: content-hash `batch_id` idempotent loads,
    * Docs/etl_requirements_reviewed_by_sr.md:162-165).
    */
  def applyBatch(table: LakeTable, cfg: Scd2Config, batch: DataFrame, epochId: Long,
      writerId: String = ""): Boolean = {
    val cur = table.current
    if (Commit.alreadyApplied(cur, epochId, writerId)) return false
    val b = cur.numBuckets
    val keyC = cfg.keyCols.map(col)
    val head = batch.agg(
      count(lit(1)).as("n"),
      collect_set(MergeApply.bucketOf(col(cfg.keyCols.head), b)).as("touched"),
      LakeTable.batchContentHash((cfg.keyCols ++ cfg.payloadCols :+ cfg.ordCol).map(col)).as("bh"))
      .collect()(0)
    if (head.getAs[Long]("n") == 0L) return false
    val batchHash = head.getAs[Long]("bh")
    // the commit's own fence, asked before any data file is written
    if (Commit.alreadyApplied(cur, epochId, writerId, Some(batchHash))) return false
    val touched: Set[Int] = head.getAs[Seq[Int]]("touched").toSet

    // 1. incoming versions: each record opens a version, closed within the
    //    batch by the key's next record (lead over the batch window).
    val w = Window.partitionBy(keyC: _*).orderBy(col(cfg.ordCol))
    val incoming = batch.select(
      (cfg.keyCols ++ cfg.payloadCols).map(col) ++ Seq(
        col(cfg.ordCol).cast(LongType).as("effective_from"),
        lead(col(cfg.ordCol), 1).over(w).cast(LongType).as("effective_to"),
        lead(col(cfg.ordCol), 1).over(w).isNull.as("is_active")): _*)

    // 2. close-out: stored active rows of keys in this batch get closed at
    //    the key's first ord. One row per touched key, but deliberately NO
    //    broadcast hint: a micro-batch touching 10^8 keys would blow the
    //    8 GB broadcast ceiling / driver memory — AQE picks broadcast
    //    itself whenever the aggregated build side is actually small, and
    //    degrades to a shuffle join (both sides already hash on the key)
    //    when it is not.
    val firstOrd = batch.groupBy(keyC: _*)
      .agg(min(col(cfg.ordCol)).cast(LongType).as("_close_at"))
    val current = table.readConformed(cur, Some(touched))
      .select((cfg.keyCols ++ cfg.payloadCols ++
        Seq("effective_from", "effective_to", "is_active")).map(col): _*)
    val closed = current.join(firstOrd, cfg.keyCols, "left")
      .withColumn("effective_to",
        when(col("is_active") && col("_close_at").isNotNull, col("_close_at"))
          .otherwise(col("effective_to")))
      .withColumn("is_active", col("is_active") && col("_close_at").isNull)
      .drop("_close_at")

    // 3. rewrite touched buckets, fenced commit.
    val merged = closed.unionByName(incoming)
      .withColumn("_lsn", lit(epochId))
      .withColumn("_deleted", lit(false))
      .withColumn("_bucket", MergeApply.bucketOf(col(cfg.keyCols.head), b))
    val files = table.writeDataFiles(
      merged.repartition(math.max(1, touched.size), col("_bucket")), schemaVer = 1)
    table.commit(files, touched, epochId, schemaVer = 1, maxLsnSeen = epochId,
      writerId = writerId, batchHash = Some(batchHash),
      baseSnapshotId = cur.id).applied
  }

  /** Driver catalog entry: build the SCD2 history of the events table
    * (key = user_id, ord = event_id) incrementally in 3 ordered batches;
    * the DuckDB oracle derives the identical history in one shot with a
    * lead() window — incremental close-out+insert must equal it exactly.
    */
  private val m7w = Q("m7_scd2_history",
    (spark, dir) => {
      val e = spark.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("event_type"), col("value"), col("event_id"))
      val cfg = Scd2Config(Seq("user_id"), Seq("event_type", "value"), "event_id")
      val root = java.nio.file.Files.createTempDirectory("graft-scd2-").toString + "/hist"
      val table = createTable(spark, root, cfg, e.schema)
      // ordered arrival: 3 contiguous event_id ranges (replay orchestration)
      val maxId = e.agg(max(col("event_id"))).head().getLong(0)
      val cut = maxId / 3
      Seq(
        e.filter(col("event_id") <= cut),
        e.filter(col("event_id") > cut && col("event_id") <= 2 * cut),
        e.filter(col("event_id") > 2 * cut)
      ).zipWithIndex.foreach { case (batch, i) =>
        applyBatch(table, cfg, batch, i.toLong)
      }
      table.read()
        .select(col("user_id"), col("effective_from"), col("effective_to"),
          col("is_active"), col("event_type"), round(col("value"), 4).as("value"))
        .orderBy("user_id", "effective_from")
    },
    Some("""SELECT user_id, event_id AS effective_from,
            lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS effective_to,
            lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL AS is_active,
            event_type, round(value, 4) AS value
            FROM events ORDER BY user_id, effective_from"""))

  val all: Seq[Q] = Seq(m7w)
}
