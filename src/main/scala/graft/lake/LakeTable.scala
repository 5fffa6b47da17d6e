package graft.lake

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, HadoopFsRelation, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Model

/** One immutable data file of a snapshot. `bucket` is the hash-bucket of
  * `conv_id` the file belongs to (hidden partitioning); `schemaVer` is the
  * writer schema version recorded so old files can be conformed (cast /
  * null-filled) to the current table schema on read. `kind` distinguishes
  * copy-on-write `base` files (≤1 version per key per bucket across all
  * base files) from merge-on-read `delta` files (appended row versions the
  * read path resolves by max `_lsn` per key until compaction folds them).
  * `rows` / `live` are the file's exact row and non-tombstone row counts,
  * and `stats` its key range, all counted during the write
  * ([[LakeTable.writeDataFiles]]). `len` is the file's byte length, taken
  * from the listing that found the file at write time: scans are planned
  * from these entries alone
  * ([[ManifestFileIndex]]), so a read never lists storage.
  */
final case class FileEntry(path: String, bucket: Int, schemaVer: Int, rows: Long,
    live: Long, kind: String = FileEntry.Base, stats: Option[FileStats] = None,
    len: Long = -1L)

object FileEntry {
  val Base = "base"
  val Delta = "delta"
}

/** Manifest-level key range of one data file — the engine's substitute
  * for the reference's secondary indexes (SURVEY §4; reference:
  * Scripts/database_schema.sql:165-169): point/range reads skip files whose
  * range cannot contain the probe, without opening a single footer.
  *
  * `minKey`/`maxKey` bound the first merge key (conv_id), compared in UTF8
  * BINARY order on both the write side ([[graft.functions.FileStatsAgg]])
  * and the probe side — the same unsigned-byte order parquet binary stats
  * use. A file whose range is unknown (it holds null keys) carries
  * `stats = None` and is never skipped.
  */
final case class FileStats(minKey: String, maxKey: String)

/** A committed table snapshot. The table's commit protocol gives the
  * load-bearing subset of Iceberg semantics the north rule needs, built
  * from scratch (no lake-format jars exist in this sandbox):
  *
  *   - atomic snapshot commits (put-if-absent publish of `snap-N`)
  *   - time-travelable snapshot ids (`snap-NNN.json` manifests kept)
  *   - schema-evolution metadata (`schemaVer` against a versioned registry)
  *   - exactly-once fencing (`epochId`; re-commit of an epoch is a no-op)
  *   - snapshot expiry + orphan-file GC
  *
  * Reference analog: content-hash `batch_id` + PK-enforced idempotent
  * loads (reference: Scripts/database_schema.sql:211,
  * Docs/etl_requirements_reviewed_by_sr.md:162-165).
  */
/** @param writerId identity of the stream that committed `epochId` —
  *                  epoch fencing is scoped PER WRITER, so a stream
  *                  restarted with a fresh checkpoint (epochIds restart at
  *                  0) re-applies instead of being silently fenced (the
  *                  merge is row-level idempotent under LWW, so re-apply is
  *                  safe; silent fencing would be data loss)
  * @param summary  the committing epoch's own record, as named counters
  *                  (Iceberg's snapshot `summary`): whatever the writer
  *                  needs to re-emit its per-epoch rows after a crash
  *                  between publish and emit. It is durable with the
  *                  commit, and the table never interprets it. Maintenance
  *                  commits carry an empty summary.
  * @param writerEpochs per-writer applied-epoch high-watermark. The single
  *                  (writerId, epochId) pair forgets writer A's watermark
  *                  the moment writer B commits; the map keeps every
  *                  writer's fence alive, so interleaved / hand-over
  *                  writers cannot replay each other's window. Epochs per
  *                  writer are monotonic (Structured Streaming retries an
  *                  epoch, never skips one), so a watermark IS the full
  *                  applied set.
  * @param batchHashes content hashes of recently applied batches, for
  *                  merge kernels that are NOT idempotent under re-apply
  *                  (ADD-merge stats, SCD2 close-out+insert): a fresh
  *                  checkpoint restarts epochs at 0 under a NEW writerId,
  *                  so the epoch fence alone would re-apply — the content
  *                  hash catches the re-delivered batch (reference analog:
  *                  content-hash `batch_id` idempotent loads,
  *                  Docs/etl_requirements_reviewed_by_sr.md:162-165).
  *                  FIFO-capped: the redelivery window after a checkpoint
  *                  swap is bounded, so only recent hashes matter.
  * @param touched  buckets this commit replaced or appended to — the
  *                  commit's WRITE SET, persisted so a concurrent committer
  *                  rebasing over this snapshot can detect write-set
  *                  overlap (serializable conflict check), and the groups
  *                  whose manifests the commit rewrote.
  * @param groupRefs the snapshot's group manifests,
  *                  `_meta/m-g<g>-<uid>.json`, one per 64-bucket group that
  *                  holds files ([[Manifest]]). A commit rewrites only the
  *                  groups its buckets fall in and REUSES the parent's refs
  *                  for the rest, so both the snapshot JSON and the
  *                  per-commit metadata write volume are O(buckets
  *                  touched), not O(table). `files` is the file list loaded
  *                  from the refs; a header read ([[LakeTable.header]])
  *                  leaves it empty.
  */
final case class Snapshot(
    id: Long,
    parent: Long,
    epochId: Long,
    schemaVer: Int,
    numBuckets: Int,
    rows: Long,
    maxLsn: Long,
    files: Seq[FileEntry],
    writerId: String = "",
    summary: Map[String, Long] = Map.empty,
    writerEpochs: Map[String, Long] = Map.empty,
    batchHashes: Seq[Long] = Nil,
    touched: Seq[Int] = Nil,
    groupRefs: Seq[GroupRef] = Nil,
    // true ⟺ a maintenance commit (compaction, rebucket): its epochId and
    // writerId are CARRIED FORWARD from the last epoch commit, not its own,
    // and its summary is empty — a reader looking for an epoch's commit
    // (the crash-window channel replay) walks past maint snapshots to it.
    maint: Boolean = false)

/** Reference to one bucket-group manifest file: `g` is the group index
  * (`bucket / 64`, [[Manifest.GroupWidth]]), `path` the manifest's file name
  * under `_meta` (relative, so a table survives being moved), `n` its file
  * count (for cheap accounting without opening it).
  */
final case class GroupRef(g: Int, path: String, n: Int)

/** Result of a commit attempt: either applied (new snapshot) or fenced
  * (this epoch was already committed — idempotent replay no-op).
  */
final case class CommitResult(snapshot: Snapshot, applied: Boolean)

/** Thrown when a commit cannot be applied without losing a concurrent
  * committer's rows (write-set overlap with a missed commit), or when it
  * loses the snapshot-id race more than [[LakeTable.maxCommitRetries]] times.
  * Loud failure is the contract: the caller re-reads current state and
  * re-derives its files; nothing is ever silently dropped.
  */
final class CommitConflictException(msg: String) extends RuntimeException(msg)

/** A minimal snapshot-committed Parquet table ("lake table"), the target
  * of the CDC merge-apply engine.
  *
  * Layout (all under `root`):
  * {{{
  *   _meta/snap-<id>.json    // immutable manifest per snapshot; the highest id is current
  *   _meta/m-g<g>-<uid>.json // group manifest: the file entries of one 64-bucket group
  *   _meta/_current          // hint: a recent snapshot's manifest name
  *   data/c<id>-<salt>/_bucket=<n>/part-*.parquet
  * }}}
  *
  * Scale notes (designed for a 1000-executor cluster / 100 TB table,
  * tested at local[32]):
  *   - Data is hidden-partitioned by `bucket = pmod(xxhash64(conv_id), B)`
  *     so a micro-batch's copy-on-write rewrites only touched buckets,
  *     bounding write amplification on hot conversations; B is sized at
  *     table creation (tests use 16-64, a 100 TB table would use 4096+)
  *     and evolved later with [[rebucket]] when the table outgrows it.
  *   - Metadata is Iceberg's manifest-list shape ([[Manifest]]): file
  *     entries live in per-64-bucket-group manifest files referenced from
  *     the snapshot, rewritten only for the groups a commit touches, so
  *     snapshot JSON and per-commit metadata writes stay O(buckets
  *     touched) regardless of table size.
  *   - A commit is one put-if-absent manifest publish — O(1) regardless
  *     of data size.
  *   - Scans are planned from the manifest: each file entry carries its
  *     byte length, and the scan is a `HadoopFsRelation` over exactly the
  *     snapshot's files ([[ManifestFileIndex]]). No read lists storage —
  *     neither serially in the planning thread nor as Spark's
  *     parallel-discovery job — so planning cost is O(files read), with
  *     no I/O.
  *   - All paths go through Hadoop `FileSystem`, so `root` may be file://,
  *     hdfs://, etc. The publish is `link(2)` on POSIX and
  *     `FileContext.rename(NONE)` elsewhere, both of which fail atomically
  *     when the target exists; object stores without put-if-absent would
  *     need a real catalog (documented limitation, matching Iceberg's own
  *     HadoopCatalog caveat).
  *
  * Multi-writer safety: commits are optimistic-concurrency. Publishing
  * `snap-N` IS the commit — two committers racing for `snap-N` cannot
  * both win, and a committer that dies after publishing has committed.
  * The loser backs off, re-reads the current snapshot, re-validates its
  * write set (bucket overlap against the commits it missed, tracked via
  * each snapshot's persisted `touched` set) and retries on the new
  * parent, or fails LOUDLY with
  * [[CommitConflictException]] when the write sets overlap — never a
  * silently lost snapshot. This covers the real deployment shape the
  * single-writer design left open: a CDC stream plus an out-of-band
  * maintenance job (compaction) committing from a second driver.
  * Append-only commits (merge-on-read deltas, `replacedBuckets` empty)
  * rebase unconditionally, like Iceberg appends. Within one JVM, commits
  * on the same instance additionally serialize on the instance lock.
  */
/** @param registry versioned schema registry of the table's PUBLIC schema
  *                  (defaults to the transcript registry — the engine's
  *                  primary table; stats/history tables pass their own)
  * @param keyCols   merge key; `keyCols.head` drives hash-bucketing, the
  *                  full key drives within-file sort order
  * @param renames   RENAME evolution steps of the registry: `renames(N)`
  *                  maps `oldName -> newName` for columns renamed going
  *                  from version N-1 to N. Read-side conformance resolves
  *                  a target column back through the chain to the name it
  *                  had at each file's writer version, so files written
  *                  before the rename read under the new name with their
  *                  data intact — no rewrite (reference analog: the
  *                  metadata-regenerated MERGE absorbing column DDL,
  *                  Scripts/ETL_Framework_Implementation.sql:336-399).
  *                  DROPPED columns need no entry: a version that omits a
  *                  column projects it away on read automatically. Merge
  *                  keys must never be renamed (bucketing/sort identity).
  */
final class LakeTable(
    val spark: SparkSession,
    val root: String,
    val registry: Map[Int, StructType] = Model.schemaRegistry,
    val keyCols: Seq[String] = Model.keyCols,
    val renames: Map[Int, Map[String, String]] = Map.empty) {
  import LakeTable._

  require(!renames.valuesIterator.flatten.exists { case (o, n) =>
    keyCols.contains(o) || keyCols.contains(n) },
    s"merge key columns cannot be renamed: $renames vs key $keyCols")

  private val rootPath = new Path(root)
  /** One Hadoop conf per table: `newHadoopConf()` deep-copies the whole
    * SparkConf + Hadoop default resources on EVERY call (~100 ms) — built
    * fresh it was the dominant cost of the per-commit file listing. The
    * conf is only read here (filesystem resolution), never mutated.
    */
  private lazy val hadoopConf = spark.sessionState.newHadoopConf()
  private def fs: FileSystem = rootPath.getFileSystem(hadoopConf)
  /** The conf a driver-side point read gives Spark's parquet reader: the
    * table's conf without the entries it holds only as Hadoop's shipped
    * `*-default.xml` values, which code reading an absent key falls back
    * to anyway. Building a reader broadcasts its conf: on a 4-core host
    * that takes ~10 ms for the ~1,100-entry table conf (~1,070 of its
    * entries are defaults) and 1-3 ms for this one.
    */
  private lazy val readerConf: Configuration = {
    val c = new Configuration(false)
    hadoopConf.iterator.forEachRemaining { e =>
      val from = hadoopConf.getPropertySources(e.getKey)
      if (from == null || !from.forall(_.endsWith("-default.xml"))) c.set(e.getKey, e.getValue)
    }
    c
  }
  private def metaDir = new Path(rootPath, "_meta")
  private def currentPtr = new Path(metaDir, "_current")
  private def snapPath(id: Long) = new Path(metaDir, Manifest.snapName(id))

  /** Internal columns persisted alongside the public schema. `_lsn` is the
    * LSN of the winning write for the row (cross-batch last-writer-wins
    * needs it when events arrive out of order across micro-batches);
    * `_deleted` marks a tombstone (needed so a late lower-LSN update
    * cannot resurrect a deleted key).
    */
  def internalCols: Seq[StructField] = LakeTable.internalCols

  // ---- metadata ----

  /** The current snapshot: the highest published `snap-N`. `_current` is
    * only a hint where to start looking. Ids are dense, so probing forward
    * from the hint costs O(1 + lag) existence checks; a missing or
    * unreadable hint, or one whose manifest an expiry deleted, falls back
    * to listing `_meta`.
    */
  def current: Snapshot =
    try snapshot(latestFrom(hintId))
    catch { case _: java.io.FileNotFoundException => snapshot(latestFrom(-1L)) }

  private def latestFrom(hint: Long): Long = {
    var id = if (hint >= 0) hint else snapshotIds.lastOption.getOrElse(
      throw new java.io.FileNotFoundException(s"no lake table at $root (no snapshot in $metaDir)"))
    while (fs.exists(snapPath(id + 1))) id += 1
    id
  }

  /** The id `_current` names, or -1. The hint is rewritten in place, so a
    * racing read can see it empty or cut short; only a whole name counts.
    */
  private def hintId: Long =
    try Manifest.snapId(readString(fs, currentPtr).trim).getOrElse(-1L)
    catch { case _: java.io.IOException => -1L }

  def snapshotIds: Seq[Long] =
    fs.listStatus(metaDir).flatMap(st => Manifest.snapId(st.getPath.getName)).sorted.toSeq

  def snapshot(id: Long): Snapshot = Manifest.read(fs, metaDir, id)

  /** Snapshot `id` without its file list (`files` empty): one metadata
    * read, for walks that need only header fields.
    */
  private[graft] def header(id: Long): Snapshot = Manifest.readHeader(fs, metaDir, id)

  /** Physical parquet schema of files written at `ver` (public + internal). */
  def physicalSchema(ver: Int): StructType =
    StructType(registry(ver).fields ++ internalCols)

  /** Snapshot history as a DataFrame — the operational metadata surface
    * (Iceberg's `.history`/`.snapshots` shape): one row per RETAINED
    * snapshot with commit lineage, writer identity, schema/bucket layout,
    * row accounting and the commit instant (manifest mtime — the publish
    * instant, same clock [[expireSnapshots]]' age-based retention uses).
    * Driver-side metadata only, bounded by retention: expireSnapshots
    * caps how many manifests exist, so this never scans data, and it
    * reads each snapshot's header only (`num_files` sums its group refs).
    * A snapshot whose manifest a concurrent expiry deletes after the
    * listing is no longer retained, so it is left out instead of failing
    * the call.
    */
  def history: DataFrame = {
    import spark.implicits._
    snapshotIds.flatMap { id =>
      try {
        val mtime = fs.getFileStatus(snapPath(id)).getModificationTime
        val s = header(id)
        Some((s.id, s.parent, s.epochId, s.writerId, s.schemaVer, s.numBuckets,
          s.rows, s.maxLsn, s.maint, s.groupRefs.map(_.n.toLong).sum, new java.sql.Timestamp(mtime)))
      } catch { case _: java.io.FileNotFoundException => None }
    }.toDF("snapshot_id", "parent_id", "epoch_id", "writer_id", "schema_ver",
      "num_buckets", "rows", "max_lsn", "is_maintenance", "num_files", "committed_at")
  }

  // ---- read path ----

  /** Public read: current schema, live rows only, internal cols dropped.
    * Delta-carrying buckets (merge-on-read) are LWW-resolved per key; pure
    * base buckets pass through with no shuffle.
    */
  def read(): DataFrame = readPublic(current)

  /** Time-travel read: the table AS OF `snapshotId` — same public shape
    * as [[read]] (live rows only, internal columns dropped, that
    * snapshot's schema version). Any kept snapshot id works (commits,
    * maintenance, pre-compaction states); bounded by retention —
    * [[expireSnapshots]] must still keep the snapshot and its files, the
    * same contract [[readChangesSince]]'s `from` side carries.
    */
  def readAt(snapshotId: Long): DataFrame = readPublic(snapshot(snapshotId))

  private def readPublic(snap: Snapshot): DataFrame =
    readResolved(snap, None)
      .filter(!col("_deleted"))
      .select(registry(snap.schemaVer).fieldNames.map(col).toSeq: _*)

  /** Internal read (merge path): ALL stored row versions incl. tombstones +
    * `_lsn`/`_deleted`, restricted to `buckets` when given (copy-on-write
    * reads only touched buckets). Old-schema files are conformed: missing
    * columns null-filled, widened types cast up — the explicit read-side
    * evolution the registry promises (int32→int64 `turn_idx`, added
    * `tool`). NOTE: a bucket with merge-on-read delta files yields multiple
    * versions per key here; consumers either resolve themselves (the merge
    * kernel's max_by subsumes it) or call [[readResolved]].
    */
  def readConformed(snap: Snapshot, buckets: Option[Set[Int]]): DataFrame = {
    val wanted = buckets match {
      case Some(bs) => snap.files.filter(f => bs.contains(f.bucket))
      case None => snap.files
    }
    readFiles(wanted, snap.schemaVer)
  }

  /** One LWW-resolved row per key (tombstone winners kept): the
    * merge-on-read read path. Only buckets that actually carry delta files
    * pay the resolve shuffle — base-only buckets are unioned through
    * untouched, so a fully-compacted (or pure copy-on-write) table reads
    * with zero extra exchanges.
    */
  def readResolved(snap: Snapshot, buckets: Option[Set[Int]]): DataFrame = {
    val wanted = buckets match {
      case Some(bs) => snap.files.filter(f => bs.contains(f.bucket))
      case None => snap.files
    }
    resolveWanted(wanted, snap.schemaVer, None)
  }

  /** LWW-resolve an explicit file set, optionally pre-filtered by a
    * KEY-ONLY predicate. The predicate is applied BELOW the resolve
    * groupBy — legal exactly because it references only merge-key columns
    * (every stored version of a key passes or fails together, so the
    * per-key max-LSN winner is unchanged), and load-bearing for point
    * reads: the filter reaches the parquet scan, so row-group stats prune
    * within the files manifest-level skipping kept.
    */
  private def resolveWanted(wanted: Seq[FileEntry], schemaVer: Int,
      keyPred: Option[org.apache.spark.sql.Column]): DataFrame = {
    def scan(fes: Seq[FileEntry]): DataFrame = {
      val df = readFiles(fes, schemaVer)
      keyPred.map(df.filter).getOrElse(df)
    }
    val deltaBuckets = wanted.filter(_.kind == FileEntry.Delta).map(_.bucket).toSet
    if (deltaBuckets.isEmpty) return scan(wanted)
    val (multi, pure) = wanted.partition(f => deltaBuckets.contains(f.bucket))
    val cols = physicalSchema(schemaVer).fieldNames.toSeq
    val resolved = scan(multi)
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(cols.map(col): _*), col("_lsn")).as("r"))
      .select(col("r.*"))
    if (pure.isEmpty) resolved
    else resolved.unionByName(scan(pure))
  }

  // ---- stats-pruned point / range reads ----

  /** Files of the CURRENT snapshot that can contain `keyCols.head = key`:
    * bucket pruning (the key's hash bucket) + manifest min/max skipping.
    * Exposed so tests (and operators) can assert how many files a point
    * read opens without driving a Spark job.
    */
  def filesForKey(key: String): Seq[FileEntry] = filesForKey(current, key)

  def filesForKey(snap: Snapshot, key: String): Seq[FileEntry] = {
    // String-key guard, same as readKeyRange: bucketOfKey hashes the
    // STRING form, but the write side bucketed on the native column — on
    // a long-keyed table (e.g. the materialized pair table) the two
    // hashes disagree and a point read would prune to the wrong bucket
    // and silently return empty. Fail loudly instead.
    require(registry(snap.schemaVer)(keyCols.head).dataType == StringType,
      s"readKey/filesForKey hash the string form of the key; " +
        s"key column ${keyCols.head} is not a string")
    val b = bucketOfKey(key, snap.numBuckets)
    val k = UTF8String.fromString(key)
    snap.files.filter(f => f.bucket == b && mayContainKey(f, k))
  }

  /** Point lookup: all live turns of one conversation, public shape. The
    * files read are [[filesForKey]]: the key's hash bucket, then manifest
    * min/max skipping, with no footer opened to choose them. Two paths
    * read them:
    *   - When their manifest byte lengths sum to less than
    *     [[LakeTable.driverReadCapBytes]], the driver decodes them with
    *     Spark's own parquet reader, the key equality pushed for
    *     row-group pruning; it conforms and LWW-resolves the key's rows in
    *     memory and returns them as a local relation. A query over the
    *     result runs no Spark job; its `inputFiles` is empty and its plan
    *     is a `LocalTableScan`.
    *   - Otherwise it is a Spark scan of those files, the key equality
    *     pushed to the parquet scan, resolved like [[readResolved]] (no
    *     shuffle on a compacted bucket).
    * Both return the same rows in the same schema.
    */
  def readKey(key: String): DataFrame = readKey(key, driverReadCapBytes)

  /** [[readKey]] with the driver path's cap given (0 always takes the
    * Spark scan) and the driver path's parquet reader.
    */
  private[graft] def readKey(key: String, driverCapBytes: Long,
      format: ParquetFileFormat = new ParquetFileFormat): DataFrame = {
    val snap = current
    val wanted = filesForKey(snap, key)
    if (wanted.iterator.map(_.len).sum < driverCapBytes) readKeyOnDriver(snap, wanted, key, format)
    else resolveWanted(wanted, snap.schemaVer, Some(col(keyCols.head) === lit(key)))
      .filter(!col("_deleted"))
      .select(registry(snap.schemaVer).fieldNames.map(col).toSeq: _*)
  }

  /** [[readKey]]'s driver path: the rule of the Spark path (conform each
    * writer version, max `_lsn` wins per key, tombstones dropped) applied
    * to the key's rows in memory.
    */
  private def readKeyOnDriver(snap: Snapshot, wanted: Seq[FileEntry], key: String,
      format: ParquetFileFormat): DataFrame = {
    val target = physicalSchema(snap.schemaVer)
    val stored = wanted.groupBy(_.schemaVer).toSeq.sortBy(_._1).flatMap { case (ver, fes) =>
      val conform = conformRow(ver, snap.schemaVer)
      decodeKeyRows(fes, ver, key, format).map(conform)
    }
    val keyIdx = keyCols.map(target.fieldIndex)
    val lsn = target.fieldIndex("_lsn")
    val deleted = target.fieldIndex("_deleted")
    val public = asNullable(registry(snap.schemaVer)).asInstanceOf[StructType]
    val publicIdx = public.fieldNames.map(target.fieldIndex)
    val toRow = CatalystTypeConverters.createToScalaConverter(public)
    val live = stored
      .groupBy(r => keyIdx.map(i => r.get(i, target(i).dataType)))
      .valuesIterator.map(_.maxBy(_.getLong(lsn)))
      .filterNot(r => r.isNullAt(deleted) || r.getBoolean(deleted))
      .map(r => toRow(new GenericInternalRow(publicIdx.map(i => r.get(i, target(i).dataType))))
        .asInstanceOf[Row])
    spark.createDataFrame(java.util.Arrays.asList(live.toSeq: _*), public)
  }

  /** The rows of `fes` (all written at `ver`, physical schema) whose first
    * key column equals `key`, decoded on the driver by the parquet reader
    * Spark's scan uses (same type, rebase and time-zone handling) with the
    * equality pushed to it. Rows are tested before they are copied, so
    * only the key's rows are materialized. Each file's reader is closed
    * before the next opens, also when decoding throws.
    */
  private def decodeKeyRows(fes: Seq[FileEntry], ver: Int, key: String,
      format: ParquetFileFormat): Seq[InternalRow] = {
    val schema = asNullable(physicalSchema(ver)).asInstanceOf[StructType]
    // The pushed key is part of the reader, so each call builds one. The
    // reader writes its read settings into the conf it is given, so it gets
    // a copy of `readerConf`, never a conf another reader uses.
    val read = format.buildReaderWithPartitionValues(spark, schema,
      new StructType(), schema, Seq(org.apache.spark.sql.sources.EqualTo(keyCols.head, key)),
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), new Configuration(readerConf))
    val ki = schema.fieldIndex(keyCols.head)
    val k = UTF8String.fromString(key)
    fes.flatMap { f =>
      val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromPathString(f.path),
        0L, f.len, Array.empty, 0L, f.len))
      try rows.filter(r => !r.isNullAt(ki) && r.getUTF8String(ki) == k).map(_.copy()).toList
      finally rows match {
        case c: java.io.Closeable => c.close()
        case _ => // the row-based decoder (vectorized reads off) closes at its last row
      }
    }
  }

  /** Range read over the FIRST merge key (inclusive bounds, binary string
    * order — the key must be a string column): every bucket can hold keys
    * of the range under hash bucketing, so pruning is purely manifest
    * min/max overlap per file. Files without stats are read (never
    * skipped), so a file holding null keys stays correct, just unpruned.
    */
  def readKeyRange(lower: String, upper: String): DataFrame = {
    val snap = current
    require(registry(snap.schemaVer)(keyCols.head).dataType == StringType,
      s"readKeyRange prunes in string order; key column ${keyCols.head} is not a string")
    val lo = UTF8String.fromString(lower)
    val hi = UTF8String.fromString(upper)
    val wanted = snap.files.filter(f => mayOverlapKeyRange(f, lo, hi))
    resolveWanted(wanted, snap.schemaVer,
      Some(col(keyCols.head) >= lit(lower) && col(keyCols.head) <= lit(upper)))
      .filter(!col("_deleted"))
      .select(registry(snap.schemaVer).fieldNames.map(col).toSeq: _*)
  }

  /** Buckets whose FILE SETS differ between two snapshots — the pruning
    * unit for [[readChangesSince]]: identical file sets imply identical
    * rows, so an untouched bucket never enters the diff. Compaction makes
    * a bucket eligible without changing its rows; the diff's anti-join
    * drops those rows, so eligibility over-approximation costs read I/O,
    * never correctness.
    */
  def changedBuckets(from: Snapshot, to: Snapshot): Set[Int] = {
    val f = from.files.groupBy(_.bucket).map { case (b, fs) => b -> fs.map(_.path).toSet }
    val t = to.files.groupBy(_.bucket).map { case (b, fs) => b -> fs.map(_.path).toSet }
    (f.keySet ++ t.keySet)
      .filter(b => f.getOrElse(b, Set.empty) != t.getOrElse(b, Set.empty))
  }

  /** Net row-level changes in `(from, to]` — the CDC-OUT face of the table
    * (Iceberg-style incremental changelog read): one row per key whose LWW
    * winner DIFFERS between the two snapshots, carrying the winner's
    * payload at `to` plus `change_type` — `DELETE` for a tombstone winner
    * (null payload, matching the merge kernel's tombstone normalization)
    * or `UPSERT`. A downstream consumer that applies these rows to its
    * copy of snapshot `from` reaches snapshot `to` exactly; consuming
    * every commit's window replays the table as a change stream.
    *
    * Exactness: the diff compares `to`-winners against `from`-winners by
    * winning `_lsn` per key — NOT an LSN high-watermark filter. A watermark misses
    * the late-arrival case the generator's bounded inversions produce: an
    * event with an OLD LSN that still wins its key (the key had nothing
    * newer) changes the table while staying under `from.maxLsn`. Keys
    * present in `from` but ABSENT from `to` (possible only when compaction
    * dropped their tombstone inside the window) are emitted as `DELETE`
    * with null payload, so the consumer still sees the kill; the proper
    * retention contract remains `dropTombstonesBelowLsn` ≤ the oldest LSN
    * any incremental consumer still needs (Iceberg's own rule that delete
    * files outlive incremental readers).
    *
    * Scale shape: reads only [[changedBuckets]] at BOTH snapshots, ONCE
    * each; the `from` side carries only (key, `_lsn`, `_deleted`) into one
    * full-outer join, so the diff costs one scan per side plus one
    * co-keyed shuffle — per-epoch
    * windows on a bucketed 100 TB table touch a few buckets, not the
    * table. Retention: `from`'s manifest and data files must still exist
    * (run [[expireSnapshots]] with `keepLast` covering the oldest
    * consumer).
    */
  def readChangesSince(fromSnapshotId: Long, toSnapshotId: Long = -1L): DataFrame = {
    val to = if (toSnapshotId < 0) current else snapshot(toSnapshotId)
    val from = snapshot(fromSnapshotId)
    require(from.numBuckets == to.numBuckets,
      s"bucket count changed between snapshots: ${from.numBuckets} -> ${to.numBuckets}")
    require(from.id <= to.id,
      s"changes window is forward-only: from snapshot ${from.id} > to ${to.id} " +
        "(an undo diff would invert the vanished-key DELETE semantics silently)")
    val bs = changedBuckets(from, to)
    // ONE full-outer join on the key carries all three cases in a single
    // pass over each side (one scan each, one co-keyed shuffle — a
    // separate reverse anti-join for the vanished case would scan both
    // sides twice): the `from` side contributes only (key, _lsn, _deleted)
    //   - to-winner with a different (or no) from-lsn  → UPSERT / DELETE
    //   - same (key, lsn) on both sides               → unchanged, dropped
    //   - from-key with NO to-row (tombstone GC'd mid-window) → DELETE
    //     with null payload, but only if LIVE at `from` — a key already
    //     dead there was already dead to the consumer
    val fromSide = readResolved(from, Some(bs))
      .select(keyCols.map(col) :+ col("_lsn").as("_from_lsn") :+
        col("_deleted").as("_from_deleted"): _*)
    val publicCols = registry(to.schemaVer).fieldNames.toSeq
    readResolved(to, Some(bs))
      .join(fromSide, keyCols, "full_outer")
      .filter(
        (col("_lsn").isNotNull &&
          (col("_from_lsn").isNull || col("_from_lsn") =!= col("_lsn"))) ||
        (col("_lsn").isNull && !col("_from_deleted")))
      .withColumn("change_type",
        when(col("_lsn").isNull || col("_deleted"), lit("DELETE"))
          .otherwise(lit("UPSERT")))
      .select(publicCols.map(col) :+ col("change_type"): _*)
  }

  /** Scan of `wanted`, conformed to `targetVer`, planned from the manifest
    * with no listing: each writer version's files become one parquet
    * `HadoopFsRelation` over a [[ManifestFileIndex]] of exactly those
    * files; nothing touches the filesystem before the scan runs. The data
    * schema is made nullable, as Spark does for a user-specified read
    * schema.
    */
  private def readFiles(wanted: Seq[FileEntry], targetVer: Int): DataFrame = {
    def scan(fes: Seq[FileEntry], ver: Int): DataFrame = {
      val files = fes.map(f => new FileStatus(f.len, false, 1, 0L, 0L, new Path(f.path)))
      spark.baseRelationToDataFrame(HadoopFsRelation(new ManifestFileIndex(files),
        partitionSchema = new StructType(),
        dataSchema = asNullable(physicalSchema(ver)).asInstanceOf[StructType],
        bucketSpec = None, fileFormat = new ParquetFileFormat, options = Map.empty)(spark))
    }
    wanted.groupBy(_.schemaVer).toSeq.sortBy(_._1)
      .map { case (ver, fes) => conformVersioned(scan(fes, ver), ver, targetVer) }
      .reduceOption(_ unionByName _)
      .getOrElse(scan(Nil, targetVer))
  }

  // ---- rename-aware version conformance ----

  /** The name a column (known as `name` at `toVer`) carried at `fromVer`:
    * the rename steps walked backward. A column added after `fromVer`
    * resolves to a name absent from the old schema — the caller
    * null-fills, same as the add-column case.
    */
  private def nameAt(name: String, fromVer: Int, toVer: Int): String = {
    var n = name
    var v = toVer
    while (v > fromVer) {
      renames.get(v).foreach(_.find(_._2 == n).foreach { case (old, _) => n = old })
      v -= 1
    }
    n
  }

  /** All names a column (known as `name` at `ver`) has ever carried,
    * newest first — the alias set the merge path probes when an OLD
    * producer still emits a pre-rename wire column.
    */
  private[graft] def historicalNames(name: String, ver: Int): Seq[String] = {
    val buf = mutable.ArrayBuffer(name)
    var n = name
    var v = ver
    while (v > 1) {
      renames.get(v).foreach(_.find(_._2 == n).foreach { case (old, _) =>
        n = old
        buf += old
      })
      v -= 1
    }
    buf.toSeq
  }

  /** Cast/null-fill/RENAME-map `df` (physical schema of `fromVer`) up to
    * `toVer`'s physical schema. Renamed columns read their old-name data;
    * added columns null-fill; dropped columns are projected away (not
    * selected); widened types cast up.
    */
  private[graft] def conformVersioned(df: DataFrame, fromVer: Int, toVer: Int): DataFrame =
    df.select(conformSources(fromVer, toVer).map { case (f, src) =>
      src.fold(lit(null))(col).cast(f.dataType).as(f.name)
    }: _*)

  /** [[conformVersioned]] for one decoded row: a row of `fromVer`'s
    * physical schema becomes a row of `toVer`'s.
    */
  private def conformRow(fromVer: Int, toVer: Int): InternalRow => InternalRow = {
    val from = physicalSchema(fromVer)
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val exprs = conformSources(fromVer, toVer).map {
      case (f, Some(src)) =>
        val i = from.fieldIndex(src)
        Cast(BoundReference(i, from(i).dataType, nullable = true), f.dataType, tz)
      case (f, None) => Literal(null, f.dataType)
    }
    r => new GenericInternalRow(exprs.map(_.eval(r)).toArray)
  }

  /** Each column of `toVer`'s physical schema with the column of
    * `fromVer`'s that it reads: its name at `fromVer`, or None for a column
    * added since, which null-fills. A column dropped since pairs with
    * nothing.
    */
  private def conformSources(fromVer: Int, toVer: Int): Seq[(StructField, Option[String])] = {
    val have = physicalSchema(fromVer).fieldNames.toSet
    physicalSchema(toVer).fields.toSeq.map(f => f -> Some(nameAt(f.name, fromVer, toVer)).filter(have))
  }

  // ---- commit protocol ----

  /** Atomically commit a new snapshot that replaces all files of
    * `replacedBuckets` with `newFiles` and (possibly) advances the schema
    * version. If `epochId >= 0` and the current snapshot has already
    * committed this epoch or a later one, the commit is fenced: nothing is
    * written and the existing snapshot is returned (`applied = false`) —
    * this is the exactly-once guarantee under foreachBatch replay.
    *
    * Concurrency: the commit point is the put-if-absent publish of the
    * `snap-N` manifest ([[LakeTable.publish]]), so two committers
    * (separate drivers — e.g. the CDC stream plus an out-of-band
    * compaction) cannot both win `snap-N`. The winner then rewrites the
    * `_current` hint. The loser backs off and retries on the new parent —
    * but only after validating that none of the commits it missed touched
    * its own write set. `baseSnapshotId` is the snapshot the CALLER derived
    * `newFiles` from (its read set); when commits landed since, and any of
    * them replaced one of our buckets, retrying would silently drop those
    * rows — so the commit throws [[CommitConflictException]] instead (the
    * caller re-reads and re-derives). Append-only commits
    * (`replacedBuckets` empty) rebase unconditionally, like Iceberg
    * appends, WHEN their files derive only from batch input, never from
    * table state; an append whose CONTENT was derived from a read of the
    * table (a merge-mode gate probing live keys under merge-on-read)
    * passes those read buckets as `derivedBuckets` so the same
    * serializable check covers its read set.
    */
  def commit(
      newFiles: Seq[FileEntry],
      replacedBuckets: Set[Int],
      epochId: Long,
      schemaVer: Int,
      maxLsnSeen: Long,
      writerId: String = "",
      summary: Map[String, Long] = Map.empty,
      batchHash: Option[Long] = None,
      baseSnapshotId: Long = -1L,
      derivedBuckets: Set[Int] = Set.empty,
      // Set ONLY by [[rebucket]]: the commit re-routes every row, so
      // `newFiles` carry NEW-layout bucket ids and the snapshot records
      // the new count (replacedBuckets still names OLD-layout buckets).
      newNumBuckets: Option[Int] = None): CommitResult = synchronized {
    var attempt = 0
    while (attempt <= maxCommitRetries) {
      val cur = current
      if (fenced(cur, epochId, writerId)) return CommitResult(cur, applied = false)
      // The content-hash fence exists for exactly ONE window: a stream
      // restarted with a fresh checkpoint (new writerId, epochs back at 0)
      // re-delivering batches the previous writer already applied. For an
      // ESTABLISHED writer the per-writer epoch fence already covers
      // redelivery, so consulting the hash there can only produce false
      // positives — two genuinely distinct batches with identical content
      // (plausible for the ADD-merge stats kernel, where two observation
      // batches can yield identical per-group deltas) would be silently
      // dropped. Scope the check to writers with no watermark yet, and log
      // when it fires so a hash-fenced commit is observable, never silent.
      if (batchHash.exists(cur.batchHashes.contains) && !establishedWriter(cur, writerId)) {
        System.err.println(s"[lake] content-hash fence: writer '$writerId' epoch $epochId " +
          s"re-delivered an already-applied batch (hash ${batchHash.get}) — commit skipped")
        return CommitResult(cur, applied = false)
      }
      // The hash window is FIFO-capped: a checkpoint-swap redelivery
      // backlog longer than maxBatchHashes would re-apply its evicted
      // prefix undetected (double-applied ADD-merge stats, no error). The
      // cap is an assumption, not an enforcement — so when an
      // unestablished writer commits a hash-fenced batch while the window
      // is saturated, say so loudly: the operator must size the cap to
      // the source's retained backlog.
      if (batchHash.isDefined && !establishedWriter(cur, writerId) &&
        cur.batchHashes.size >= maxBatchHashes)
        System.err.println(s"[lake] content-hash window SATURATED ($maxBatchHashes) while " +
          s"unestablished writer '$writerId' commits epoch $epochId: a redelivery older " +
          "than the window would double-apply undetected — ensure maxBatchHashes covers " +
          "the source's retained backlog")
      // Layout check FIRST, and for EVERY commit that moved — including
      // append-only (merge-on-read) commits, which otherwise rebase
      // unconditionally: `newFiles` bucket ids were computed with the BASE
      // snapshot's bucket transform, so if a rebucket landed in between,
      // registering them would plant old-layout ids in a new-layout
      // snapshot and bucket-pruned reads would silently miss those rows.
      // An unreadable (expired) base conflicts too: a commit derived from
      // a snapshot that retention already dropped cannot prove its layout.
      if (baseSnapshotId >= 0 && cur.id != baseSnapshotId) {
        val baseNb =
          try header(baseSnapshotId).numBuckets
          catch { case scala.util.control.NonFatal(_) => -1 }
        if (baseNb != cur.numBuckets)
          throw new CommitConflictException(
            s"commit by writer '$writerId' at $root derived its files from snapshot " +
              s"$baseSnapshotId (numBuckets=$baseNb) but the table is now at " +
              s"numBuckets=${cur.numBuckets} — bucket layout changed (or the base " +
              "expired); re-read and re-derive")
      }
      // Serializable check for commits whose content depends on table
      // state: if the table moved past the snapshot we derived from, every
      // missed commit must be write-set-disjoint from our write set (blind
      // file replacement would drop its rows) AND from our read set (a
      // merge-mode gate probed liveness there — e.g. InsertOnly admitted a
      // key another writer has since made live).
      val dependsOn = replacedBuckets ++ derivedBuckets
      if (dependsOn.nonEmpty && baseSnapshotId >= 0 && cur.id != baseSnapshotId)
        validateDisjointSince(baseSnapshotId, cur, dependsOn, writerId)
      val kept = cur.files.filterNot(f => replacedBuckets.contains(f.bucket))
      val allFiles = kept ++ newFiles
      // Live-row count is exact from manifest stats while the one-version-
      // per-key invariant holds (no unresolved delta files). With deltas
      // pending it is UNKNOWN (-1) until compaction folds them — a delta row
      // may shadow a base row, so summing would double-count; Iceberg's MoR
      // record_count has the same caveat.
      val rows =
        if (allFiles.exists(_.kind == FileEntry.Delta)) -1L
        else allFiles.map(_.live).sum
      val snap = Snapshot(
        id = cur.id + 1,
        parent = cur.id,
        epochId = if (epochId >= 0) epochId else cur.epochId,
        schemaVer = math.max(schemaVer, cur.schemaVer),
        numBuckets = newNumBuckets.getOrElse(cur.numBuckets),
        rows = rows,
        maxLsn = math.max(maxLsnSeen, cur.maxLsn),
        files = allFiles,
        writerId = if (epochId >= 0) writerId else cur.writerId,
        summary = summary,
        writerEpochs =
          if (epochId >= 0)
            cur.writerEpochs.updated(writerId,
              math.max(epochId, cur.writerEpochs.getOrElse(writerId, -1L)))
          else cur.writerEpochs,
        batchHashes = (cur.batchHashes ++ batchHash).takeRight(maxBatchHashes),
        maint = epochId < 0,
        // A rebucket replaces every old bucket, so its write set covers
        // every group of the old layout: no parent ref survives it.
        touched = (replacedBuckets ++ newFiles.map(_.bucket)).toSeq.distinct.sorted)
      Manifest.publish(fs, metaDir, cur.groupRefs, snap) match {
        case Some(published) =>
          // The snapshot is committed; the hint only saves the next reader
          // a longer probe, so failing to write it fails nothing.
          try writeString(fs, currentPtr, Manifest.snapName(snap.id))
          catch { case _: java.io.IOException => }
          return CommitResult(published, applied = true)
        case None =>
      }
      // Claim lost: another committer published snap-(cur.id+1), so the
      // next `current` sees it. Loop (re-fence, re-validate, re-id).
      // Jittered exponential backoff breaks claim lockstep: without it two
      // steady committers re-synchronize on every commit and re-race for
      // each next id, and one can lose every round.
      attempt += 1
      sleepInterruptibly(1 + java.util.concurrent.ThreadLocalRandom.current()
        .nextLong(4L << math.min(attempt, 7)))
    }
    throw new CommitConflictException(
      s"commit by writer '$writerId' lost the snapshot-claim race $maxCommitRetries times at $root")
  }

  /** Assert that every snapshot in (base, cur] has a write set disjoint
    * from `ours`. A missed commit that already expired has an unknown
    * write set and conflicts by definition: failing loud beats silently
    * dropping its rows.
    */
  private def validateDisjointSince(base: Long, cur: Snapshot, ours: Set[Int],
      writerId: String): Unit = {
    var id = cur.id
    var s = cur
    while (id > base) {
      val overlap = s.touched.filter(ours.contains)
      if (overlap.nonEmpty)
        throw new CommitConflictException(
          s"concurrent commit conflict at $root: snapshot $id (writer '${s.writerId}') " +
            s"touched buckets ${overlap.mkString(",")} that writer '$writerId' derived its " +
            s"files from (base snapshot $base) — re-read and retry")
      id = s.parent
      // Header read: the walk reads `touched`/`parent`/`writerId`, never
      // file lists, so it opens no group manifest on the commit path.
      if (id > base) s =
        try header(id)
        catch {
          case e: Exception => throw new CommitConflictException(
            s"concurrent commit conflict at $root: snapshot $id expired before writer " +
              s"'$writerId' (base $base) could validate against it (${e.getMessage})")
        }
    }
  }

  /** Epoch fence, scoped per writer identity: a commit is a replay no-op
    * only when the SAME writer already committed this epoch or a later one.
    * A different writer (fresh checkpoint — its epochIds restart at 0)
    * legitimately re-applies; the LWW merge makes that row-level idempotent
    * (non-idempotent kernels additionally pass a content `batchHash` to
    * [[commit]]). The per-writer watermark map keeps EVERY writer's fence
    * alive across hand-overs (the last-writer-only pair would forget it).
    */
  def fenced(cur: Snapshot, epochId: Long, writerId: String): Boolean =
    epochId >= 0 && cur.writerEpochs.get(writerId).exists(_ >= epochId)

  /** A writer is ESTABLISHED once it holds an epoch watermark in the
    * current snapshot — from then on the epoch fence alone covers its
    * redelivery window, and the content-hash fence (which exists for the
    * checkpoint-swap window, where a NEW writer re-delivers old content)
    * must not be consulted for it: a genuinely new batch that happens to
    * hash like an old one would be silently dropped.
    */
  def establishedWriter(cur: Snapshot, writerId: String): Boolean =
    cur.writerEpochs.contains(writerId)

  /** Sleep that propagates interrupts WITH the flag restored — a stream
    * stop() landing mid-backoff must surface as an interrupt the caller
    * can see (same hygiene as [[graft.cdc.Retry]]'s backoff sleep).
    */
  private def sleepInterruptibly(ms: Long): Unit =
    try Thread.sleep(ms)
    catch {
      case ie: InterruptedException =>
        Thread.currentThread().interrupt()
        throw ie
    }

  // ---- data file write helper ----

  /** Write `df` (public-schema cols + `_lsn` + `_deleted` + `_bucket`) as
    * new data files, returning the manifest entries. Files are split by
    * `_bucket` via dynamic partitioning; within a task rows are written
    * sorted by (conv_id, turn_idx) so turn-ordered reads stay fast and
    * parquet min/max stats stay tight (north rule: sort-order maintenance).
    *
    * Every entry's stats (rows, live rows, key range) ride THE WRITE PASS
    * ITSELF: a [[graft.functions.FileStatsAgg]] keyed by `(write partition
    * id, bucket)` is hung on the write plan via `Dataset.observe`, so the
    * entries exist the moment the write job finishes — no extra Spark job,
    * no footer read. The key maps 1:1 onto output files because dynamic
    * partitioning writes one `part-<pid>` file per bucket a task holds, and
    * `maxRecordsPerFile` is pinned to 0 so a task never splits a bucket.
    * Speculative execution could run two successful attempts of one task
    * and double-count the observation, so it is refused; Spark launches no
    * speculative tasks in `local[n]` anyway. If the listed files and the
    * stats entries still fail to match one to one, the write throws
    * [[IllegalStateException]] before anything is committed: the caller's
    * retry re-runs the epoch and orphan GC reclaims the files.
    */
  def writeDataFiles(df: DataFrame, schemaVer: Int,
      kind: String = FileEntry.Base): Seq[FileEntry] = {
    require(!spark.sparkContext.getConf.getBoolean("spark.speculation", false),
      "spark.speculation=true is not supported: a speculative write task would " +
        "double-count the write-pass file stats")
    val dir = new Path(new Path(rootPath, "data"),
      s"c${System.currentTimeMillis()}-${java.util.UUID.randomUUID.toString.take(8)}")
    val obs = org.apache.spark.sql.Observation(
      s"graft-filestats-${java.util.UUID.randomUUID.toString.take(8)}")
    // The key project is NONDETERMINISTIC (spark_partition_id), so the
    // optimizer cannot push it below the exchange the caller's repartition
    // planted — pids seen here are the write task's.
    val keyed = df.withColumn("_fskey",
      spark_partition_id().cast(LongType) * lit(FileKeySpan) + col("_bucket").cast(LongType))
    // Register the aggregate in the OBSERVED DataFrame's session: under
    // foreachBatch the batch df belongs to a CLONED session with its own
    // function registry, and a merge-on-read plan derives purely from the
    // batch side — registering in the table's outer session would leave
    // the clone's analyzer unable to resolve the function.
    val observed = keyed.observe(obs,
      graft.functions.FileStatsAgg.column(keyed.sparkSession, col("_fskey"),
        col(keyCols.head).cast(StringType), not(coalesce(col("_deleted"), lit(false)))).as("fs"))
      .drop("_fskey")
    graft.cdc.MergeApply.timed("merge-write-files")(
      observed.sortWithinPartitions("_bucket", keyCols: _*)
        .write.partitionBy("_bucket").option("maxRecordsPerFile", 0L)
        .mode("overwrite").parquet(dir.toString))
    graft.cdc.MergeApply.timed("file-stats")(statsFromWrite(dir, schemaVer, kind, obs))
  }

  /** `part-NNNNN-` write-task prefix of every Spark output file name. */
  private val partFileRe = "^part-(\\d+)-".r.unanchored

  /** Stats-key stride: key = pid * span + bucket. Buckets are Int, so a
    * 2^32 span can never collide across pids.
    */
  private val FileKeySpan = 1L << 32

  /** Manifest entries from the write-pass [[graft.functions.FileStatsAgg]]
    * observation: map each listed file back to its `(pid, bucket)` stats
    * key via the `part-NNNNN` task index in its name. Throws unless
    * files↔entries is a bijection — every file resolves a distinct key and
    * the counts match exactly.
    */
  private def statsFromWrite(dir: Path, schemaVer: Int, kind: String,
      obs: org.apache.spark.sql.Observation): Seq[FileEntry] = {
    val stats = obs.get("fs").asInstanceOf[collection.Map[Long, org.apache.spark.sql.Row]]
    val found = listDataFiles(dir)
    def mismatch(why: String) =
      new IllegalStateException(s"write-pass stats do not match the files under $dir: $why")
    if (found.size != stats.size) throw mismatch(s"${found.size} files vs ${stats.size} stats entries")
    val keyed = found.map { case (p, bucket, len) =>
      val pid = partFileRe.findFirstMatchIn(p.getName).map(_.group(1).toLong)
        .getOrElse(throw mismatch(s"${p.getName} has no task index"))
      val key = pid * FileKeySpan + bucket
      val s = stats.getOrElse(key, throw mismatch(s"no stats entry for ${p.getName}"))
      val range = if (s.isNullAt(2)) None else Some(FileStats(s.getString(2), s.getString(3)))
      key -> FileEntry(p.toString, bucket, schemaVer, s.getLong(0), s.getLong(1), kind, range, len)
    }
    if (keyed.map(_._1).distinct.size != keyed.size) throw mismatch("two files share a stats key")
    keyed.map(_._2)
  }

  /** All parquet data files under a commit directory as (file, bucket,
    * byte length). The length goes into the manifest, so reads plan
    * without listing. On
    * `file:` the engine's sessions bind [[NioLocalFileSystem]], so this
    * listing forks no process per entry.
    */
  private def listDataFiles(dir: Path): Seq[(Path, Int, Long)] = {
    val fsys = dir.getFileSystem(hadoopConf)
    if (!fsys.exists(dir)) return Nil
    val found = mutable.ArrayBuffer[(Path, Int, Long)]()
    val it = fsys.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      val parent = p.getParent.getName
      if (p.getName.endsWith(".parquet") && parent.startsWith("_bucket="))
        found += ((p, parent.stripPrefix("_bucket=").toInt, st.getLen))
    }
    found.toSeq
  }

  // ---- maintenance ----

  /** Bin-pack compaction: rewrite every bucket that has more than
    * `maxFilesPerBucket` files — or, with `foldDeltas`, any unresolved
    * merge-on-read delta file — into one LWW-resolved sorted base file per
    * bucket, committed as a metadata-neutral maintenance snapshot (epoch
    * map unchanged). Bounds the read amplification that copy-on-write
    * salting and merge-on-read deltas accumulate on hot buckets; also
    * drops tombstones older than `dropTombstonesBelowLsn` (safe once the
    * out-of-order window for those LSNs has certainly passed). Folding all
    * deltas restores the exact manifest live-row count ([[commit]] row
    * accounting). The rewrite is one Spark job after one shuffle: LWW
    * resolves inside the bucket exchange the write needs
    * ([[resolveIntoBuckets]]), with at most `spark.sql.shuffle.partitions`
    * write tasks.
    */
  def compact(maxFilesPerBucket: Int = 4, dropTombstonesBelowLsn: Long = -1L,
      foldDeltas: Boolean = false): CommitResult = {
    val cur = current
    val byBucket = cur.files.groupBy(_.bucket)
    val fat = byBucket.filter { case (_, fs) =>
      fs.size > maxFilesPerBucket ||
        (foldDeltas && fs.exists(_.kind == FileEntry.Delta))
    }.keySet
    if (fat.isEmpty) return CommitResult(cur, applied = false)
    var df = resolveIntoBuckets(readConformed(cur, Some(fat)), cur.schemaVer,
      cur.numBuckets, writeTasks(spark, fat.size))
    // after the resolve: a dropped tombstone must not let an older live
    // version of its key win instead
    if (dropTombstonesBelowLsn >= 0)
      df = df.filter(!col("_deleted") || col("_lsn") >= dropTombstonesBelowLsn)
    val files = writeDataFiles(df, cur.schemaVer)
    commit(files, fat, epochId = -1, schemaVer = cur.schemaVer,
      maxLsnSeen = cur.maxLsn, baseSnapshotId = cur.id)
  }

  /** Change the table's bucket count — the scale-lifecycle operation a
    * fixed-at-creation B would otherwise cap (a table that starts at 64
    * buckets and grows toward 100 TB needs 4096: per-bucket CoW rewrite
    * volume, file counts, and merge parallelism all key off B). One full
    * resolved rewrite (every row re-routes through the bucket transform —
    * there is no cheaper correct path: the bucket function changes for
    * every key), committed as ONE maintenance snapshot: readers see the
    * old layout until the commit lands, a crash leaves the old snapshot
    * intact, and a concurrent committer conflicts LOUDLY (the rebucket's
    * write set is every bucket). Unresolved merge-on-read deltas fold in
    * (LWW resolves inside the new-bucket exchange, [[resolveIntoBuckets]]
    * — the one shuffle of the rewrite); tombstones are preserved, and the
    * commit regroups the file list under the new layout. Incremental
    * consumers must re-baseline: [[readChangesSince]] windows cannot span a
    * bucket-count change (it rejects them), matching Iceberg's own
    * partition-spec evolution caveat for changelog reads.
    */
  def rebucket(newNumBuckets: Int): CommitResult = {
    require(newNumBuckets > 0, s"bucket count must be positive: $newNumBuckets")
    val cur = current
    if (newNumBuckets == cur.numBuckets) return CommitResult(cur, applied = false)
    val files = writeDataFiles(resolveIntoBuckets(readConformed(cur, None), cur.schemaVer,
      newNumBuckets, writeTasks(spark, newNumBuckets)), cur.schemaVer)
    commit(files, (0 until cur.numBuckets).toSet, epochId = -1,
      schemaVer = cur.schemaVer, maxLsnSeen = cur.maxLsn,
      baseSnapshotId = cur.id, newNumBuckets = Some(newNumBuckets))
  }

  /** The one LWW resolve of every rewrite — either merge, [[compact]] and
    * [[rebucket]] — INSIDE the bucket exchange its write needs: write
    * partition `p` goes to task `p mod parts`, then a max-LSN groupBy on
    * `(_bucket, keys…)` that the exchange already clusters (the partition
    * is a function of the key), so there is no second shuffle and the
    * aggregate's sort is the write's. The partition is the bucket (one
    * file per bucket), or with `salt` > 1 `bucket·salt + hash(keys) mod
    * salt`, grouped last so the sort stays `(_bucket, keys…)`. By id, not
    * hash: 16 buckets hash onto 4 tasks as 6/4/3/3, the modulo deals them
    * evenly. `maxCols` ride along as their max per key. Output: physical
    * columns at `schemaVer`, `_bucket` and `maxCols`, for [[writeDataFiles]];
    * routing is the merge path's own bucket transform.
    */
  private[graft] def resolveIntoBuckets(rows: DataFrame, schemaVer: Int, numBuckets: Int,
      parts: Int, salt: Int = 1, maxCols: Seq[String] = Nil): DataFrame = {
    val cols = physicalSchema(schemaVer).fieldNames.toSeq
    val bucketed = rows.withColumn("_bucket",
      graft.cdc.MergeApply.bucketOf(col(keyCols.head), numBuckets))
    val (keyed, saltKey) =
      if (salt <= 1) (bucketed, Nil)
      else (bucketed.withColumn("_part", (col("_bucket") * salt +
        pmod(xxhash64(keyCols.map(col): _*), lit(salt.toLong))).cast(IntegerType)), Seq("_part"))
    keyed.repartitionById(parts, col(saltKey.headOption.getOrElse("_bucket")))
      .groupBy((("_bucket" +: keyCols) ++ saltKey).map(col): _*)
      .agg(max_by(struct(cols.map(col): _*), col("_lsn")).as("r"), maxCols.map(c => max(c).as(c)): _*)
      // key columns straight from the grouping keys: their sort order
      // (the aggregate's) carries through to the write's sort
      .select(cols.map(c => if (keyCols.contains(c)) col(c) else col(s"r.$c").as(c)) ++
        ("_bucket" +: maxCols).map(col): _*)
  }

  /** Expire all but the last `keepLast` snapshots and GC data files no kept
    * snapshot references (reference analog: staging purge / retention,
    * Scripts/ETL_Framework_Implementation.sql:445-485).
    */
  /** @param orphanGraceMs age floor for ORPHAN deletion (group manifests /
    *                      data files referenced by no kept snapshot). A
    *                      concurrent committer writes its data files and
    *                      group manifests BEFORE it publishes `snap-N`, so
    *                      an expiry running in that window sees them as
    *                      orphans — deleting them would corrupt the commit
    *                      the moment it lands. Files younger than the
    *                      grace are skipped (a published snapshot needs no
    *                      grace: its manifest is listed, so its refs and
    *                      files are already live here). Publish temps a
    *                      crashed committer left in `_meta` go by the same
    *                      age floor.
    *                      Single-writer maintenance (tests, in-replay GC)
    *                      passes 0 for immediate reclamation.
    * @param olderThanMs   TIME-BASED retention (Iceberg's
    *                      `expireSnapshots(olderThan)` shape; reference
    *                      analog: DATEADD-cutoff purge,
    *                      Scripts/ETL_Framework_Implementation.sql:445-485):
    *                      a snapshot younger than this age is KEPT even
    *                      beyond `keepLast`, so the retention contract for
    *                      incremental consumers ([[readChangesSince]],
    *                      [[readAt]]) is expressible in time units — "any
    *                      baseline taken in the last 7 days stays
    *                      readable" — which is how changelog consumers
    *                      reason, not in snapshot counts. Age is the
    *                      manifest file's mtime (the commit's publish
    *                      instant). Negative (default) = count-based
    *                      retention only, the pre-existing behavior.
    */
  def expireSnapshots(keepLast: Int = 2,
      orphanGraceMs: Long = defaultOrphanGraceMs,
      olderThanMs: Long = -1L): ExpiryReport = {
    val ids = snapshotIds
    val curId = current.id
    val youngEnough: Set[Long] =
      if (olderThanMs < 0L) Set.empty
      else {
        val ageCutoff = System.currentTimeMillis() - olderThanMs
        fs.listStatus(metaDir).filter(_.getModificationTime >= ageCutoff)
          .flatMap(st => Manifest.snapId(st.getPath.getName)).toSet
      }
    val keep = ids.filter(_ >= curId - keepLast + 1).toSet ++ youngEnough + curId
    val keptSnaps = keep.toSeq.map(snapshot)
    val live: Set[String] = keptSnaps.flatMap(_.files.map(_.path)).toSet
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    // The report counts outcomes: a delete that returns false (already
    // gone, e.g. a racing expiry) reclaimed nothing and is not counted.
    // delete dead snapshot manifests (id-based: never younger than kept)
    val snapsDeleted = ids.filterNot(keep).count(id => fs.delete(snapPath(id), false))
    // delete group manifests no kept snapshot references (expired
    // snapshots' groups + orphans from lost commit-claim races), unless
    // young enough to be an in-flight commit's pre-claim write; publish
    // temps a crash leaked go by the same grace
    val liveRefs: Set[String] = keptSnaps.flatMap(_.groupRefs.map(_.path)).toSet
    val oldMeta = fs.listStatus(metaDir).filter(_.getModificationTime < cutoff).map(_.getPath)
    val refsDeleted = oldMeta.filter(p => Manifest.isGroupManifest(p.getName) &&
      !liveRefs.contains(p.getName)).count(fs.delete(_, false))
    oldMeta.filter(_.getName.startsWith(PublishTempPrefix)).foreach(fs.delete(_, false))
    // delete orphan data files, same grace
    var dirsReclaimed = 0
    var filesDeleted = 0
    val dataDir = new Path(rootPath, "data")
    if (fs.exists(dataDir)) {
      val it = fs.listFiles(dataDir, true)
      val dead = mutable.ArrayBuffer[Path]()
      val liveCommitDirs = mutable.Set[String]()
      // The commit dir is the path segment directly under data/ — walk up
      // to it rather than a fixed number of levels, because an IN-FLIGHT
      // write's files sit deeper (c<ts>/_temporary/.../part-*.parquet) and
      // must still protect their commit dir from the sweep below.
      def commitDirOf(p: Path): String = {
        var d = p.getParent
        var name: String = null
        while (d != null && d.getName != "data") { name = d.getName; d = d.getParent }
        name
      }
      while (it.hasNext) {
        val st = it.next()
        val p = st.getPath
        if (p.getName.endsWith(".parquet")) {
          if (!live.contains(p.toString) && st.getModificationTime < cutoff) dead += p
          else {
            val cd = commitDirOf(p) // live, or a young possibly-in-flight orphan
            if (cd != null) liveCommitDirs += cd
          }
        }
      }
      filesDeleted = dead.count(p => fs.delete(p, false))
      // Reclaim EMPTIED commit directories: every writeDataFiles call
      // creates one c<ts>-<uuid> dir, so without this the data/ tree
      // grows by one dir per epoch forever and each expiry's recursive
      // listing walks an unbounded graveyard (an object store pays a
      // LIST per prefix). A dir is deletable once it holds no live and no
      // young (possibly in-flight) file and it predates the grace cutoff;
      // a dir whose files were deleted JUST NOW has a refreshed mtime on
      // POSIX and is reclaimed by the next expiry instead — one cycle
      // late, never wrongly. A `_temporary` child marks an IN-FLIGHT
      // write that has produced no part files yet — mtime alone cannot
      // protect it (orphanGraceMs=0 maintenance, object stores with
      // synthetic dir mtimes), so its presence vetoes deletion outright.
      def inFlight(d: Path): Boolean =
        try fs.listStatus(d).exists(_.getPath.getName == "_temporary")
        catch { case _: java.io.FileNotFoundException => false }
      fs.listStatus(dataDir).foreach { st =>
        if (st.isDirectory && !liveCommitDirs.contains(st.getPath.getName) &&
          st.getModificationTime < cutoff && !inFlight(st.getPath) &&
          fs.delete(st.getPath, true))
          dirsReclaimed += 1
      }
    }
    ExpiryReport(snapsDeleted, refsDeleted, filesDeleted, dirsReclaimed)
  }
}

/** A snapshot's files as Spark's file index: the manifest is the index
  * (Iceberg's manifest-list read), so planning a scan lists nothing.
  * `files` carry their manifest length; the one partition directory has
  * no partition values (bucket pruning already happened on the manifest).
  */
private[lake] final class ManifestFileIndex(files: Seq[FileStatus]) extends FileIndex {
  def rootPaths: Seq[Path] = files.map(_.getPath)
  def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files.toArray))
  def inputFiles: Array[String] = files.map(_.getPath.toUri.toString).toArray
  def refresh(): Unit = ()
  def sizeInBytes: Long = files.map(_.getLen).sum
  def partitionSchema: StructType = new StructType()
}

/** What one [[LakeTable.expireSnapshots]] pass reclaimed — returned so a
  * maintenance scheduler or monitoring channel can record retention
  * activity without re-listing the tree it just swept. Each count is of
  * deletes that succeeded, not of deletes attempted.
  */
final case class ExpiryReport(
    snapshotsDeleted: Int,
    groupManifestsDeleted: Int,
    dataFilesDeleted: Int,
    commitDirsReclaimed: Int)

object LakeTable {

  val internalCols: Seq[StructField] = Seq(
    StructField("_lsn", LongType, nullable = false),
    StructField("_deleted", BooleanType, nullable = false))

  /** Order-independent content hash of a batch: per-row xxhash64 summed in
    * decimal(38,0) space (a plain long sum overflows under ANSI mode; 38
    * digits absorb ~1e19 rows) and folded back to a long. Non-idempotent
    * merge kernels pass this to [[LakeTable.commit]] as the re-delivery
    * fence (reference analog: content-hash `batch_id`,
    * Docs/etl_requirements_reviewed_by_sr.md:162-165).
    */
  def batchContentHash(cols: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
    pmod(sum(xxhash64(cols: _*).cast(DecimalType(38, 0))),
      lit(new java.math.BigDecimal(Long.MaxValue))).cast(LongType)

  /** Fold PRE-AGGREGATED per-row-hash sums (decimal(38,0) partial sums of
    * xxhash64 over raw rows, e.g. the `_hsum` column
    * [[graft.analytics.IncrementalStats.deltas]] carries) into the same
    * hash space as [[batchContentHash]] — lets a batch be content-hashed
    * over its RAW rows even when only an aggregate of the batch is in hand.
    */
  def batchContentHashFromSums(hsum: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(sum(hsum), lit(new java.math.BigDecimal(Long.MaxValue))).cast(LongType)

  /** FIFO cap on remembered batch content hashes: the re-delivery window
    * after a checkpoint swap is bounded (a restarted stream re-reads at
    * most its source's retained backlog), so only recent batches can
    * legitimately reappear. 4096 hashes ≈ 32 KB of manifest.
    */
  val maxBatchHashes = 4096

  /** How many times a commit re-runs the claim loop after losing the
    * snapshot-id race (each loss means another committer landed — the
    * retry rebases onto its snapshot after the write-set check). Sized so
    * that exhausting it means a genuinely pathological committer storm,
    * not two steady writers in momentary lockstep.
    */
  val maxCommitRetries = 16

  /** Default orphan-deletion age floor for [[LakeTable.expireSnapshots]]:
    * long enough that any concurrent commit whose data files / group
    * manifests predate its `snap-N` publish has published (or died) before
    * its artifacts become eligible — the Iceberg remove-orphans pattern.
    */
  val defaultOrphanGraceMs: Long = 30L * 60 * 1000

  /** Byte total of a point read's files below which [[LakeTable.readKey]]
    * decodes them on the driver instead of running a Spark scan: the
    * crossover of the two paths. Measured on a 4-core host, one
    * copy-on-write file holding the key's bucket, `readKey(k).collect()`
    * medians, driver vs Spark: 0.55 MB 27-37 vs 78-99 ms, 2.3 MB 27-34 vs
    * 64-87 ms, 4.0 MB 27-31 vs 70-78 ms, 4.6 MB 67-74 vs 69-70 ms, 9.2 MB
    * 80-85 vs 71-85 ms. So the driver path stops winning at ~4.5 MB. A
    * bucket with merge-on-read deltas adds a resolve shuffle to the Spark
    * path only, so the single-file case is the conservative one.
    */
  val driverReadCapBytes: Long = 4L << 20

  /** Write tasks for a rewrite of `buckets` buckets: one per bucket, at
    * most `spark.sql.shuffle.partitions` (the merge write's rule too).
    */
  private[graft] def writeTasks(spark: SparkSession, buckets: Int): Int =
    math.max(1, math.min(buckets, spark.conf.get("spark.sql.shuffle.partitions", "32").toInt))

  /** Create an empty table at `root` with an initial schema version. */
  def create(
      spark: SparkSession, root: String, schemaVer: Int, numBuckets: Int,
      registry: Map[Int, StructType] = Model.schemaRegistry,
      keyCols: Seq[String] = Model.keyCols,
      renames: Map[Int, Map[String, String]] = Map.empty): LakeTable = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val metaDir = new Path(rootPath, "_meta")
    // Re-creating over an existing table must start METADATA-fresh: the
    // highest `snap-N` is the current snapshot, so a stale snap-1.json
    // surviving from the previous incarnation would BE the re-created
    // table's state (observed when a bench child was killed and its table
    // path reused). Old DATA files are left in place: snap-0 references
    // none of them, so they are merely orphans.
    if (fs.exists(metaDir) && !fs.delete(metaDir, true))
      throw new IllegalStateException(
        s"create: failed to delete stale table metadata at $metaDir — " +
          "refusing to proceed (surviving snap-N manifests would resurface " +
          "as the re-created table's state)")
    fs.mkdirs(metaDir)
    val snap = Snapshot(0L, -1L, -1L, schemaVer, numBuckets, 0L, -1L, Nil)
    if (Manifest.publish(fs, metaDir, Nil, snap).isEmpty)
      throw new IllegalStateException(s"create: another creator published $root's first snapshot")
    writeString(fs, new Path(metaDir, "_current"), Manifest.snapName(0L))
    new LakeTable(spark, root, registry, keyCols, renames)
  }

  def load(
      spark: SparkSession, root: String,
      registry: Map[Int, StructType] = Model.schemaRegistry,
      keyCols: Seq[String] = Model.keyCols,
      renames: Map[Int, Map[String, String]] = Map.empty): LakeTable =
    new LakeTable(spark, root, registry, keyCols, renames)

  def exists(spark: SparkSession, root: String): Boolean = {
    val meta = new Path(root, "_meta")
    val fs = meta.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(meta) && fs.listStatus(meta).exists(st => Manifest.snapId(st.getPath.getName).isDefined)
  }

  /** Driver-side twin of [[graft.cdc.MergeApply.bucketOf]]: the same
    * xxhash64 (Spark's default seed 42) + pmod, evaluated without a Spark
    * job, so a point read prunes to its bucket before planning anything.
    * Seed/algorithm lockstep with the Column form is pinned by test.
    */
  private[graft] def bucketOfKey(key: String, numBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(key), StringType, 42L)
    (((h % numBuckets) + numBuckets) % numBuckets).toInt
  }

  /** File-skip predicates, in UTF8 BINARY order on both sides (the write
    * pass min/maxes in the same order). A file without a key range never
    * skips.
    */
  private[graft] def mayContainKey(f: FileEntry,
      k: org.apache.spark.unsafe.types.UTF8String): Boolean = f.stats match {
    case Some(s) =>
      import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
      k.binaryCompare(u(s.minKey)) >= 0 && k.binaryCompare(u(s.maxKey)) <= 0
    case _ => true
  }

  private[graft] def mayOverlapKeyRange(f: FileEntry,
      lo: org.apache.spark.unsafe.types.UTF8String,
      hi: org.apache.spark.unsafe.types.UTF8String): Boolean = f.stats match {
    case Some(s) =>
      import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
      hi.binaryCompare(u(s.minKey)) >= 0 && lo.binaryCompare(u(s.maxKey)) <= 0
    case _ => true
  }

  /** `t` with every field, array element and map value nullable: the
    * schema Spark gives a user-specified file read (its own `asNullable`
    * is not public).
    */
  private def asNullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
    case o => o
  }

  /** Plain overwrite, past the checksum layer of a checksummed FS such as
    * `file:`: the `_current` hint is rewritten in place, and a reader
    * racing that rewrite must see a short read, not a data/`.crc` mismatch
    * (which the local FS answers by moving the file to `bad_files`).
    */
  private[lake] def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val raw = fs match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case o => o
    }
    val out = raw.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Name prefix of [[publish]]'s temps: hidden, and never `snap-` or `m-`. */
  private[graft] val PublishTempPrefix = ".publish-"

  /** Put-if-absent write — the commit point of a snapshot and the engine's
    * only create-if-absent path. The bytes go to a hidden temp beside `p`
    * first; the temp is then put in place by an operation that fails
    * atomically when `p` exists: `link(2)` on `file:` (NIO's ATOMIC_MOVE
    * is `rename(2)`, which would silently replace `p`) and
    * `FileContext.rename(NONE)` elsewhere (atomic at the HDFS namenode).
    * So a reader sees no file or the whole file, never a partial one.
    * Returns false when `p` already exists. A temp a crash leaks is swept
    * by [[LakeTable.expireSnapshots]].
    */
  private[graft] def publish(fs: FileSystem, p: Path, s: String): Boolean = {
    val tmp = new Path(p.getParent, PublishTempPrefix + java.util.UUID.randomUUID)
    writeString(fs, tmp, s)
    try {
      if (fs.getScheme == "file")
        java.nio.file.Files.createLink(java.nio.file.Paths.get(p.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
      else FileContext.getFileContext(p.toUri, fs.getConf).rename(tmp, p, Options.Rename.NONE)
      true
    } catch {
      case _: java.io.IOException if fs.exists(p) => false
    } finally fs.delete(tmp, false)
  }

  private[graft] def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
  }
}
