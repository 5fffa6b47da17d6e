package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.cdc.MergeApply
import graft.lake.LakeTable

/** The shared exactly-once ADD-merge kernel for ADDITIVE aggregate tables
  * (incremental sufficient statistics, materialized pair counts): fold a
  * pre-aggregated delta into the stored groups, copy-on-write touching
  * only buckets whose groups appear in the delta. ADD is NOT idempotent
  * under re-apply, so exactly-once rides the per-writer epoch fence PLUS
  * a batch content hash for the checkpoint-swap redelivery window
  * ([[LakeTable.commit]]'s `batchHash` scope rules). ONE definition — the
  * redelivery/fencing semantics of every additive table evolve together
  * instead of as drifting near-verbatim copies.
  *
  * Contract: the table's public schema is (key columns per
  * `table.keyCols`) ++ (summable value columns); `delta` carries those
  * columns (extras like the exact-hash `_hsum` may ride along for
  * `batchHashCol` and are dropped before the merge).
  */
object AdditiveMerge {

  /** @param batchHashCol aggregate column folding the delta to its content
    *                     hash — exact-value `_hsum` sums where available
    *                     ([[LakeTable.batchContentHashFromSums]])
    * @param partitionCap ceiling on write partitions (→ output files) per
    *                     commit: additive tables are small relative to
    *                     their touched-bucket count, so one file per
    *                     touched bucket is pure small-files/task overhead
    *                     (MaterializedPairs caps at 8)
    * @return true when applied; false when fenced, hash-deduped, or empty
    */
  def apply(table: LakeTable, delta0: DataFrame, epochId: Long,
      writerId: String, batchHashCol: Column,
      partitionCap: Int = Int.MaxValue): Boolean = {
    val cur = table.current
    if (table.fenced(cur, epochId, writerId)) return false
    val b = cur.numBuckets
    val keyCols = table.keyCols
    val schema = table.registry(cur.schemaVer)
    val sumFields = schema.fields.toSeq.filterNot(f => keyCols.contains(f.name))
    val cols = schema.fieldNames.toSeq
    // the delta plan executes twice (head/hash aggregate, merged write) —
    // cache it across the two consumers
    val delta = delta0.persist()
    try {
      val head = delta.agg(
        count(lit(1)).as("n"),
        collect_set(MergeApply.bucketOf(col(keyCols.head), b)).as("touched"),
        batchHashCol.as("bh")).collect()(0)
      if (head.getAs[Long]("n") == 0L) return false
      val batchHash = head.getAs[Long]("bh")
      // early exit before writing data files — scoped like the commit-level
      // fence: only a NOT-yet-established writer (checkpoint-swap
      // redelivery window) is hash-checked; commit re-checks the same rule
      if (!table.establishedWriter(cur, writerId) &&
        cur.batchHashes.contains(batchHash)) return false
      val touched: Set[Int] = head.getAs[Seq[Int]]("touched").toSet
      // Tombstone guard: readConformed returns ALL stored versions
      // including _deleted rows — additive tables only ever write live CoW
      // rows today, but a future maintenance path slipping a tombstone in
      // would silently corrupt the additive sums forever.
      val stored = table.readConformed(cur, Some(touched))
        .filter(!col("_deleted"))
        .select(cols.map(col): _*)
      val sums = sumFields.map(f => sum(col(f.name)).cast(f.dataType).as(f.name))
      val merged = stored.unionByName(delta.select(cols.map(col): _*))
        .groupBy(keyCols.map(col): _*)
        .agg(sums.head, sums.tail: _*)
        .withColumn("_lsn", lit(epochId))
        .withColumn("_deleted", lit(false))
        .withColumn("_bucket", MergeApply.bucketOf(col(keyCols.head), b))
      val files = table.writeDataFiles(
        merged.repartition(math.max(1, math.min(touched.size, partitionCap)), col("_bucket")),
        schemaVer = cur.schemaVer)
      table.commit(files, touched, epochId, schemaVer = cur.schemaVer, maxLsnSeen = epochId,
        writerId = writerId, batchHash = Some(batchHash),
        baseSnapshotId = cur.id).applied
    } finally delta.unpersist()
  }
}
