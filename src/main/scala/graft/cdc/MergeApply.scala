package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{Commit, CommitResult, LakeTable, Snapshot, Writer}
import graft.model.Model

/** M4 ▸ merge modes (reference: sp_merge_staging_to_production declares
  * @merge_type UPSERT | INSERT_ONLY | UPDATE_ONLY,
  * Scripts/ETL_Framework_Implementation.sql:336-399). SET-ORIENTED
  * semantics, stated precisely: the mode gate admits events by the key's
  * liveness in the PRE-BATCH table state, then LWW resolves among the
  * admitted events. This is deliberately NOT row-by-row SQL MERGE
  * application — for a key with multiple admissible events per batch the
  * two diverge (INSERT_ONLY over I(k,1),D(k,2),I(k,3): row-by-row lands
  * the FIRST insert, lsn 1; this engine's max-LSN resolve lands lsn 3 —
  * consistent with how the UPSERT path treats every batch). Event-level
  * gating does preserve the one ordering interaction dedup-first would
  * lose: I(k,1) then D(k,2) under INSERT_ONLY still inserts (the delete
  * is dropped by the gate, not handed the dedup win). The driver oracle
  * (`m4_*` in SparkEntry) encodes exactly these set-oriented semantics,
  * gate-then-resolve. LSN dedup thus resolves among the ADMITTED events:
  *   - [[MergeMode.Upsert]]      matched → update/delete, unmatched → insert
  *   - [[MergeMode.InsertOnly]]  only keys with no LIVE current row are
  *                               inserted; deletes are dropped (no matched arm)
  *   - [[MergeMode.UpdateOnly]]  only keys with a LIVE current row are
  *                               updated/deleted (no unmatched arm)
  */
sealed trait MergeMode
object MergeMode {
  case object Upsert extends MergeMode
  case object InsertOnly extends MergeMode
  case object UpdateOnly extends MergeMode
}

/** How a batch's winning rows reach the table.
  *
  *   - [[WriteStrategy.CopyOnWrite]] reads the touched buckets' current
  *     rows, merges, and rewrites those buckets. Best when the batch
  *     touches a bounded set of hot keys (the transcript regime: events ≫
  *     keys) — reads of a CoW table are shuffle-free.
  *   - [[WriteStrategy.MergeOnRead]] appends the batch's deduped winners
  *     as per-bucket DELTA files without reading the table at all (Upsert
  *     mode): per-batch write cost is O(batch), not O(touched table), the
  *     regime where keys are spread wide and every bucket is touched —
  *     at 100 TB a CoW batch there would rewrite the whole table. Reads
  *     LWW-resolve delta-carrying buckets ([[LakeTable.readResolved]]);
  *     [[LakeTable.compact]](foldDeltas = true) or a copy-on-write merge
  *     of the touched buckets (a stream's scheduled epoch) folds deltas back.
  *
  * The same dichotomy as Iceberg v2 copy-on-write vs merge-on-read; both
  * strategies resolve in the one bucket exchange of their write
  * ([[graft.lake.Writer.resolveIntoBuckets]]), commit through the same fenced
  * snapshot protocol and may be mixed batch-by-batch on one table.
  */
sealed trait WriteStrategy
object WriteStrategy {
  case object CopyOnWrite extends WriteStrategy
  case object MergeOnRead extends WriteStrategy
}

/** Per-micro-batch outcome, used for metrics, QC + lineage emission.
  * `durationMs` is the merge wall up to the commit: the commit's own time
  * cannot be recorded inside the commit.
  */
final case class BatchStats(
    epochId: Long,
    applied: Boolean,
    snapshotId: Long,
    inputEvents: Long,
    dedupedKeys: Long,
    touchedBuckets: Int,
    schemaVer: Int,
    maxLsn: Long,
    liveRows: Long,
    durationMs: Long,
    observedRows: Long = -1L,
    observedLive: Long = -1L,
    qcDeletes: Long = -1L,
    qcNullText: Long = -1L)

object BatchStats {

  /** The record of the epoch `s` committed, read from its header and its
    * summary; None when the summary does not hold a record (a maintenance
    * commit, or an epoch committed by a kernel that keeps none), so a
    * replay emits nothing rather than fabricated rows.
    */
  def of(s: Snapshot): Option[BatchStats] = {
    val m = s.summary
    if (!SummaryKeys.forall(m.contains)) None
    else Some(BatchStats(s.epochId, applied = true, s.id, m("inputEvents"), m("dedupedKeys"),
      m("touchedBuckets").toInt, s.schemaVer, s.maxLsn, s.rows, m("mergeMs"),
      m("observedRows"), m("observedLive"), m("qcDeletes"), m("qcNullText")))
  }

  private val SummaryKeys = Seq("inputEvents", "dedupedKeys", "touchedBuckets", "mergeMs",
    "observedRows", "observedLive", "qcDeletes", "qcNullText")
}

/** The engine core: apply one micro-batch of change events to a LakeTable
  * as a key-partitioned MERGE upsert.
  *
  * Semantics (north rule):
  *   - per-micro-batch dedup via monotonically-ordered LSNs
  *     (`max_by(struct(*), lsn)` per `(conv_id, turn_idx)`)
  *   - last-writer-wins across batches too: the table stores the winning
  *     `_lsn` per row, so a late out-of-order event with a lower LSN than
  *     what is already applied loses — including against tombstones, so a
  *     late update cannot resurrect a deleted key
  *   - copy-on-write at bucket granularity: only buckets whose keys are
  *     touched by the batch are rewritten (bounded write amplification)
  *   - exactly-once: the snapshot commit is fenced by `epochId` — a
  *     replayed foreachBatch invocation after a crash is a no-op
  *   - schema evolution: a batch carrying a newer `schema_ver` advances
  *     the table schema (versioned registry, applied per batch)
  *   - skew: a bucket too large for one write task is spread over salted
  *     write partitions (bucket·salt + hash(conv_id, turn_idx) mod salt),
  *     resolved inside the same one exchange, and the session enables AQE
  *     skew-join splitting (see [[graft.Sessions]])
  *
  * Reference analog for the whole stage: MERGE matched/not-matched upsert +
  * content-hash idempotent batch loads (reference:
  * Scripts/python/enhanced_main_etl.py:778-929,
  * Docs/etl_requirements_reviewed_by_sr.md:162-165).
  */
object MergeApply {

  /** Write tasks a salted bucket is spread over. */
  private val SaltFactor = 4

  /** Apply one batch of change events (wire schema
    * [[Model.changeEventSchema]]) to `table`. `epochId < 0` disables the
    * fence (ad-hoc batch mode); streaming passes the foreachBatch epoch.
    */
  def applyBatch(
      table: LakeTable,
      events: DataFrame,
      epochId: Long,
      saltRowThreshold: Long = 4000000L,
      mode: MergeMode = MergeMode.Upsert,
      writerId: String = "",
      strategy: WriteStrategy = WriteStrategy.CopyOnWrite): BatchStats = {
    val t0 = System.nanoTime()
    val spark = table.spark
    // Callers reach this from arbitrary threads (streaming micro-batch
    // loops, test runners); bind the table's session to this thread so
    // plan nodes built outside Spark's withActive wrappers never capture
    // a null session (observed: AQE-replanned aggregate NPE in
    // resetMetrics when the thread had no active session).
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val cur = table.current
    val keyCols = table.keyCols

    // Fence first: replaying an epoch this writer already committed must
    // cost nothing.
    def notApplied(s: Snapshot) = BatchStats(epochId, applied = false, s.id, 0L, 0L, 0,
      s.schemaVer, s.maxLsn, s.rows, elapsedMs(t0))
    if (Commit.alreadyApplied(cur, epochId, writerId)) return notApplied(cur)

    // One driver-side pass for the batch-level facts the PLAN ITSELF
    // depends on: count, max lsn, max schema version, the touched-bucket
    // set (≤ numBuckets values), and the S9 tombstone count. Everything
    // here reads only narrow columns (lsn, schema_ver, key, op) — the fat
    // payload columns are deliberately NOT referenced, so the parquet scan
    // behind this agg is a fraction of the batch's bytes. Payload-level QC
    // (null text) rides the write-plan Observation below instead of
    // forcing a full-width scan here.
    val b = cur.numBuckets
    val head = timed("head-agg")(events.agg(
      count(lit(1)).as("n"),
      max("lsn").as("maxLsn"),
      max("schema_ver").as("maxVer"),
      collect_set(bucketOf(col(keyCols.head), b)).as("touched"),
      sum(when(col("op") === "D", 1L).otherwise(0L)).as("qcDeletes")).collect()(0))
    val inputEvents = head.getAs[Long]("n")
    if (inputEvents == 0L) return notApplied(cur)
    val batchMaxLsn = head.getAs[Long]("maxLsn")
    val newVer = math.max(cur.schemaVer, head.getAs[Int]("maxVer"))
    val target = table.registry(newVer)
    val touched: Set[Int] = head.getAs[Seq[Int]]("touched").toSet

    // 1. Conform batch events to the (possibly evolved) target schema +
    //    merge cols. Within-batch LSN dedup is NOT a separate shuffle: it is
    //    subsumed by the merge groupBy in step 3 (same max_by-per-key
    //    semantics, one shuffle instead of two).
    val batchRows = conformEvents(events, target, keyCols,
      n => table.historicalNames(n, newVer))

    val isMor = strategy == WriteStrategy.MergeOnRead
    val mergeCols = target.fieldNames.toSeq ++ Seq("_lsn", "_deleted")

    // 2. Merge-mode gate: restrict which batch keys may touch the table.
    //    "Matched" means a LIVE current row exists for the key (a
    //    tombstone counts as NOT matched, same as SQL MERGE after DELETE).
    //    Gating is the only reason merge-on-read would read the table, so
    //    the key probe is column-pruned and LWW-resolved; plain Upsert
    //    under merge-on-read never reads the table at all. Under
    //    copy-on-write the probe adds a second, KEY-ONLY scan of the
    //    touched buckets next to the full-width currentRows read below —
    //    a ~key-column-sized overhead, accepted over threading one
    //    resolve through both the gate and the union.
    def liveKeys = table.readResolvedKeys(cur, Some(touched))
      .filter(!col("_deleted")).select(keyCols.map(col): _*)
    val gatedBatch = mode match {
      case MergeMode.Upsert => batchRows
      case MergeMode.InsertOnly =>
        batchRows.filter(!col("_deleted")).join(liveKeys, keyCols, "left_anti")
      case MergeMode.UpdateOnly =>
        batchRows.join(liveKeys, keyCols, "left_semi")
    }

    // 3. Resolve: keep the max-LSN row per key. Copy-on-write unions the
    //    touched buckets' current row versions in as pseudo-events
    //    (cross-batch LWW; any unresolved deltas from earlier merge-on-read
    //    batches resolve here too); merge-on-read dedups the batch alone —
    //    cross-batch LWW then happens at read time over the delta stack.
    //    (Duplicate re-emissions share an LSN and identical payload, so
    //    max_by ties are safe.) `_batch` marks batch rows: its max per key
    //    says whether the batch carried the key, whichever version wins.
    val batchSide = gatedBatch.select(mergeCols.map(col) :+ lit(1).as("_batch"): _*)
    val toResolve =
      if (isMor) batchSide
      else {
        // version-aware conform: renames map old-name data, drops project away
        val currentRows = table.conformVersioned(
          table.readConformed(cur, Some(touched)), cur.schemaVer, newVer)
        currentRows.select(mergeCols.map(col) :+ lit(0).as("_batch"): _*).unionByName(batchSide)
      }

    // 4. Resolve inside the write's one bucket exchange (the operator
    //    compaction and rebucket use), salted — a bucket spread over several
    //    write tasks — ONLY when its RESOLVED row volume warrants it: live
    //    rows per bucket + batch events per touched bucket, NOT the raw
    //    event count (a hot conversation's million events resolve to ≤
    //    max_turns rows; salting on them multiplied output files and every
    //    per-file cost for no balance). The default threshold is a healthy
    //    parquet write task (~4M rows ≈ 0.5 GB); the 100 TB case — CoW
    //    rewriting a ~2.4e8-row bucket — salts, which is when spreading pays.
    val livePerBucket = if (cur.rows > 0) cur.rows / math.max(1, b) else 0L
    val resolvedEstPerBucket = livePerBucket + inputEvents / math.max(1, touched.size)
    val salt = if (resolvedEstPerBucket < saltRowThreshold) 1 else SaltFactor
    val resolved = Writer.resolveIntoBuckets(table, toResolve, newVer, b,
      Writer.writeTasks(spark, touched.size * salt), salt, maxCols = Seq("_batch"))
    // A8 ▸ observed metrics RIDE THE MERGE PLAN (Dataset.observe →
    // CollectMetrics via the Observation helper): resolved-row, live-row
    // and batch-key counts come from the pass that writes the data files,
    // not a separate job (reference analog: *_stats accumulator dicts,
    // Scripts/python/enhanced_main_etl.py:304-309).
    val obs = org.apache.spark.sql.Observation(s"merge-e$epochId-${System.nanoTime()}")
    // S9 null-payload QC is observed on the RESOLVED rows (live winners
    // with a null text), not the raw events: observing it pre-merge would
    // either re-scan the batch's fat payload column in the head agg or
    // hang a second CollectMetrics on the union leg — and post-resolve is
    // the level the reference's per-study QC reads anyway
    // (_load_qc_metrics, Scripts/python/enhanced_main_etl.py:998-1020).
    val nullTextCol =
      if (target.fieldNames.contains("text"))
        sum(when(!col("_deleted") && col("text").isNull, 1L).otherwise(0L))
      else sum(lit(0L))
    val observedRows = resolved
      .observe(obs, count(lit(1)).as("rows"),
        sum(when(col("_deleted"), 0L).otherwise(1L)).as("live"),
        nullTextCol.as("null_text"), sum("_batch").as("batch_keys"))
      .drop("_batch")
    val files = timed("merge-write")(table.writeDataFiles(observedRows, newVer,
      kind = if (isMor) graft.lake.FileEntry.Delta else graft.lake.FileEntry.Base))
    // writeDataFiles refuses speculative execution, so these counts are
    // exact. -1 = unavailable (the BatchStats default): 0 would read as
    // "all tombstones" / "no nulls" and trip false reconciliations.
    val observed = obs.get
    def observedOf(name: String): Long =
      Option(observed.getOrElse(name, null)).collect { case x: Long => x }.getOrElse(-1L)

    // 5. Atomic fenced commit. Copy-on-write REPLACES the touched buckets'
    //    files; merge-on-read replaces nothing (pure append). Per-file
    //    row/live stats were collected by writeDataFiles in one pass, so
    //    the snapshot's live count needs no scan of current data. The
    //    epoch's record rides the commit as the snapshot summary (the
    //    fields its header does not hold), so a crash before the channel
    //    writes loses no row: BatchStats.of reads it back.

    // A merge-on-read commit replaces nothing, but a GATED mode's output
    // was derived from a liveness probe of the touched buckets — that read
    // set must pass the serializable check (InsertOnly admitting a key a
    // concurrent writer has since made live would overwrite it at
    // read-time LWW). Plain upsert under MoR reads nothing: pure append.
    val gateReadBuckets: Set[Int] =
      if (isMor && mode != MergeMode.Upsert) touched else Set.empty
    val summary = Map("inputEvents" -> inputEvents, "dedupedKeys" -> observedOf("batch_keys"),
      "touchedBuckets" -> touched.size.toLong, "mergeMs" -> elapsedMs(t0),
      "observedRows" -> observedOf("rows"), "observedLive" -> observedOf("live"),
      "qcDeletes" -> head.getAs[Long]("qcDeletes"), "qcNullText" -> observedOf("null_text"))
    val res: CommitResult = timed("commit")(table.commit(files,
      if (isMor) Set.empty else touched, epochId, newVer,
      maxLsnSeen = batchMaxLsn, writerId = writerId, summary = summary,
      baseSnapshotId = cur.id, derivedBuckets = gateReadBuckets))
    if (res.applied) BatchStats.of(res.snapshot).get else notApplied(res.snapshot)
  }

  /** Hidden-partitioning bucket expression (Iceberg-style bucket transform). */
  def bucketOf(convId: org.apache.spark.sql.Column, numBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(convId), lit(numBuckets)).cast(IntegerType)

  /** Project wire-schema events onto the target table schema + merge
    * columns. Deletes become tombstones with null payloads; columns the
    * target schema doesn't know yet (e.g. `tool` before v2) are dropped;
    * columns the events don't carry are null-filled; `turn_idx` widens by
    * cast when the target has evolved to long. `aliasesOf` resolves a
    * target column through the registry's rename history (newest first),
    * so an old producer still emitting a pre-rename wire column feeds the
    * renamed target column.
    */
  private def conformEvents(events: DataFrame, target: StructType, keyCols: Seq[String],
      aliasesOf: String => Seq[String]): DataFrame = {
    val have = events.columns.toSet
    val isDelete = col("op") === "D"
    val payload = target.fields.toSeq.map { f =>
      val base = aliasesOf(f.name).find(have.contains)
        .map(src => col(src).cast(f.dataType))
        .getOrElse(lit(null).cast(f.dataType))
      if (keyCols.contains(f.name)) base.as(f.name)
      else when(isDelete, lit(null).cast(f.dataType)).otherwise(base).as(f.name)
    }
    events.select(payload ++ Seq(
      col("lsn").as("_lsn"),
      isDelete.as("_deleted")): _*)
  }

  private def elapsedMs(t0: Long): Long = (System.nanoTime() - t0) / 1000000L

  /** Per-step wall timing to stderr when SPARK_GRAFT_TRACE=1 (perf triage). */
  private[graft] val trace = sys.env.get("SPARK_GRAFT_TRACE").contains("1")
  private[graft] def timed[A](what: String)(f: => A): A = {
    if (!trace) f
    else {
      val t = System.nanoTime()
      val r = f
      System.err.println(f"[trace] $what ${(System.nanoTime() - t) / 1e9}%.2fs")
      r
    }
  }
}
