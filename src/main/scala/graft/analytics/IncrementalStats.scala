package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.RelationalQueries.Q
import graft.cdc.MergeApply
import graft.lake.LakeTable

/** T5 ▸ incremental sufficient-statistics upsert — the reference's
  * "update pooled stats per new study WITHOUT a full rescan" promise
  * (reference: Docs/etl_requirements_reviewed_by_sr.md:420,622-625)
  * running on the engine's own machinery: per micro-batch, aggregate
  * per-group sufficient-stat DELTAS (k, Σw, Σw², Σwθ, Σwθ²) and MERGE-ADD
  * them into a snapshot-committed stats LakeTable (epoch-fenced, bucketed,
  * copy-on-write — the same commit protocol as the transcript table).
  * Pooled DerSimonian–Laird columns are closed-form derivations ON READ,
  * so the stored state stays additive and the merge stays commutative:
  * batch order cannot change the final state.
  *
  * Scale shape: each batch costs one partial-aggregated scan of the batch
  * plus a rewrite of touched stat buckets — state size is O(groups), never
  * O(events), which is exactly why the incremental path beats the full
  * rescan at 10^10 events.
  */
object IncrementalStats {

  /** Stored state: one row per group of additive sufficient statistics. */
  val statsSchema: StructType = StructType(Seq(
    StructField("group_key", StringType, nullable = false),
    StructField("k", LongType),
    StructField("s1", DoubleType),
    StructField("s2", DoubleType),
    StructField("st", DoubleType),
    StructField("st2", DoubleType)))

  val registry: Map[Int, StructType] = Map(1 -> statsSchema)

  def createTable(spark: SparkSession, root: String, numBuckets: Int = 8): LakeTable =
    LakeTable.create(spark, root, schemaVer = 1, numBuckets = numBuckets,
      registry = registry, keyCols = Seq("group_key"))

  /** Per-group sufficient-stat deltas of one batch of (group_key, theta, w)
    * observations — the map-side-combined single shuffle per batch.
    *
    * `_hsum` rides along: the additive per-group sum of each RAW
    * observation row's xxhash64 (over the batch's exact stored column
    * values, all columns). Summing per-group sums gives the batch content
    * hash over the raw rows — order- and partition-independent, and
    * immune to the float-summation-order instability that hashing the
    * recomputed double aggregates would have (a redelivered batch summed
    * in a different partition order could miss the guard and double-count).
    * [[applyBatch]] folds it into the commit's content hash and drops it
    * before the merge.
    */
  def deltas(obs: DataFrame): DataFrame =
    obs.groupBy(col("group_key")).agg(
      count(lit(1)).as("k"),
      sum(col("w")).as("s1"),
      sum(col("w") * col("w")).as("s2"),
      sum(col("w") * col("theta")).as("st"),
      sum(col("w") * col("theta") * col("theta")).as("st2"),
      sum(xxhash64(obs.columns.map(col).toSeq: _*).cast(DecimalType(38, 0))).as("_hsum"))

  /** Streaming face of the stats table: tail a directory of observation
    * files and MERGE-ADD each micro-batch's sufficient-stat deltas —
    * the same exactly-once chain as the transcript stream (checkpointed
    * source offsets → per-writer epoch fence → content-hash re-delivery
    * guard for the non-idempotent ADD). Runs to completion over the files
    * currently present (AvailableNow) and waits.
    */
  def streamAvailable(spark: SparkSession, table: LakeTable, obsDir: String,
      checkpointDir: String, obsSchema: StructType): Unit =
    graft.cdc.CdcStream.streamOneFilePerBatch(spark, obsDir, checkpointDir, obsSchema) {
      (batch, epochId, wid) => applyBatch(table, deltas(batch), epochId, writerId = wid); ()
    }

  /** MERGE-ADD one delta batch into the stats table. Exactly-once via the
    * table's PER-WRITER epoch fence plus a batch content hash: merge-ADD is
    * NOT idempotent under re-apply (unlike the transcript LWW merge), so a
    * stream restarted with a fresh checkpoint — new writerId, epochs back
    * at 0 — must neither be silently fenced (data loss) nor double-add its
    * re-delivered batches (double count). The writer-scoped fence admits
    * the new writer; the content hash (order-independent sum of per-row
    * xxhash64 over the delta, computed inside the same head aggregate)
    * skips exactly the batches whose content was already applied —
    * reference analog: content-hash `batch_id` idempotent loads
    * (Docs/etl_requirements_reviewed_by_sr.md:162-165). Copy-on-write
    * touches only buckets whose groups appear in the batch. Returns false
    * when fenced or empty.
    *
    * `delta` must come from [[deltas]]: the content hash is folded from
    * its `_hsum` sums over the raw observation rows, exact values that do
    * not move with float-summation order.
    */
  def applyBatch(table: LakeTable, delta: DataFrame, epochId: Long,
      writerId: String = ""): Boolean = {
    require(delta.columns.contains("_hsum"),
      "stats delta lacks _hsum: build it with IncrementalStats.deltas()")
    // the merge itself is the shared exactly-once ADD kernel
    AdditiveMerge(table, delta, epochId, writerId,
      LakeTable.batchContentHashFromSums(col("_hsum")))
  }

  /** Pooled DerSimonian–Laird columns from the stored state — identical
    * closed form to the one-shot a9 aggregate, so incremental-over-k-batches
    * must equal one-shot-over-the-union (IncrementalStatsSpec property;
    * driver oracle = full recompute in DuckDB).
    */
  def derive(state: DataFrame): DataFrame =
    state.select(col("group_key").as("event_type") +: col("k") +:
      graft.functions.StatFunctions.dlPooledCols: _*)

  /** Driver catalog entry: replay the events table as 4 delta batches into
    * a fresh stats table (addition commutes, so the pmod split needs no
    * ordering), then derive the pooled view. The DuckDB oracle recomputes
    * everything in one shot — the strongest equality the incremental path
    * can be held to.
    */
  private val t5 = Q("t5_incremental_stats",
    (spark, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-stats-").toString + "/stats"
      val table = createTable(spark, root)
      val obs = spark.read.parquet(s"$dir/events.parquet")
        .select(col("event_type").as("group_key"), col("value").as("theta"),
          (lit(1.0) / (lit(1.0) + col("value") * col("value"))).as("w"),
          col("event_id"))
      (0 until 4).foreach { batch =>
        val applied = applyBatch(table,
          deltas(obs.filter(pmod(col("event_id"), lit(4)) === batch)), batch.toLong)
        require(applied, s"stats batch $batch unexpectedly fenced")
      }
      derive(table.read()).orderBy("event_type")
    },
    Some(s"""WITH s AS (
              SELECT event_type, count(*) AS k,
                     sum(w) AS s1, sum(w*w) AS s2,
                     sum(w*value) AS st, sum(w*value*value) AS st2
              FROM (SELECT event_type, value, 1.0/(1.0+value*value) AS w FROM events)
              GROUP BY event_type)
            SELECT event_type, k,
                   ${graft.functions.StatFunctions.dlPooledSql}
            FROM s ORDER BY event_type"""))

  val all: Seq[Q] = Seq(t5)
}
