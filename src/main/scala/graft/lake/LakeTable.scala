package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
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

/** A minimal snapshot-committed Parquet table ("lake table"), the target
  * of the CDC merge-apply engine, and its one entry point. This file holds
  * the table's state, its metadata reads and its data reads; the steps of
  * a commit live in [[Commit]], the data-file writer in [[Writer]] and
  * compaction, rebucketing and retention in [[Maintenance]], each reached
  * through a one-line forwarder here. The metadata format is [[Manifest]].
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
  *   - Metadata is Iceberg's manifest-list shape ([[Manifest]]), so
  *     per-commit metadata writes stay O(buckets touched) regardless of
  *     table size.
  *   - A commit is one put-if-absent manifest publish — O(1) regardless
  *     of data size.
  *   - Scans are planned from the manifest: each file entry carries its
  *     byte length, and the scan is a `HadoopFsRelation` over exactly the
  *     snapshot's files ([[ManifestFileIndex]]). No read lists storage —
  *     neither serially in the planning thread nor as Spark's
  *     parallel-discovery job — so planning cost is O(files read), with
  *     no I/O.
  *   - All paths go through Hadoop `FileSystem`, so `root` may be file://,
  *     hdfs://, etc.; object stores without put-if-absent
  *     ([[Commit.publish]]) would need a real catalog (documented
  *     limitation, matching Iceberg's own HadoopCatalog caveat).
  *
  * Concurrent committers are optimistic; [[Commit]] states the protocol.
  *
  * @param registry versioned schema registry of the table's PUBLIC schema
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
  // the session's conf, looked up once per table, not per filesystem access
  private lazy val conf = hadoopConf(spark)
  private[lake] def fs: FileSystem = rootPath.getFileSystem(conf)
  /** The conf a driver-side point read gives Spark's parquet reader: the
    * table's conf without the entries it holds only as Hadoop's shipped
    * `*-default.xml` values, which code reading an absent key falls back
    * to anyway. Building a reader broadcasts its conf: on a 4-core host
    * that takes ~10 ms for the ~1,100-entry session conf (~1,070 of its
    * entries are defaults) and 1-3 ms for this one.
    */
  private lazy val readerConf: Configuration = {
    val c = new Configuration(false)
    conf.iterator.forEachRemaining { e =>
      val from = conf.getPropertySources(e.getKey)
      if (from == null || !from.forall(_.endsWith("-default.xml"))) c.set(e.getKey, e.getValue)
    }
    c
  }
  private[lake] def metaDir = new Path(rootPath, "_meta")
  private[lake] def snapPath(id: Long) = new Path(metaDir, Manifest.snapName(id))

  // ---- metadata ----

  /** The current snapshot ([[Commit.current]]). */
  def current: Snapshot = Commit.current(this)

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

  private def readPublic(snap: Snapshot): DataFrame = publicRows(readResolved(snap, None), snap)

  /** Live rows of `rows` (a resolved read of `snap`) in `snap`'s public
    * shape: tombstone winners dropped, internal columns projected away.
    */
  private def publicRows(rows: DataFrame, snap: Snapshot): DataFrame =
    rows.filter(!col("_deleted")).select(registry(snap.schemaVer).fieldNames.map(col).toSeq: _*)

  /** Internal read (merge path): ALL stored row versions incl. tombstones +
    * `_lsn`/`_deleted`, restricted to `buckets` when given (copy-on-write
    * reads only touched buckets). Old-schema files are conformed: missing
    * columns null-filled, widened types cast up — the explicit read-side
    * evolution the registry promises (int32→int64 `turn_idx`, added
    * `tool`). NOTE: a bucket with merge-on-read delta files yields multiple
    * versions per key here; consumers either resolve themselves (the merge
    * kernel's max_by subsumes it) or call [[readResolved]].
    */
  def readConformed(snap: Snapshot, buckets: Option[Set[Int]]): DataFrame =
    readFiles(filesIn(snap, buckets), snap.schemaVer)

  /** One LWW-resolved row per key (tombstone winners kept): the
    * merge-on-read read path. Only buckets that actually carry delta files
    * pay the resolve shuffle — base-only buckets are unioned through
    * untouched, so a fully-compacted (or pure copy-on-write) table reads
    * with zero extra exchanges.
    */
  def readResolved(snap: Snapshot, buckets: Option[Set[Int]]): DataFrame =
    resolveWanted(filesIn(snap, buckets), snap.schemaVer, None,
      physicalSchema(snap.schemaVer).fieldNames.toSeq)

  /** [[readResolved]] narrowed to the keys and each key's winning `_lsn`
    * and `_deleted`: the resolve carries only these, so no payload column
    * is scanned.
    */
  private[graft] def readResolvedKeys(snap: Snapshot, buckets: Option[Set[Int]]): DataFrame =
    resolveWanted(filesIn(snap, buckets), snap.schemaVer, None, keyCols ++ Seq("_lsn", "_deleted"))

  private def filesIn(snap: Snapshot, buckets: Option[Set[Int]]): Seq[FileEntry] =
    buckets.fold(snap.files)(bs => snap.files.filter(f => bs.contains(f.bucket)))

  /** LWW-resolve an explicit file set, optionally pre-filtered by a
    * KEY-ONLY predicate. The predicate is applied BELOW the resolve
    * groupBy — legal exactly because it references only merge-key columns
    * (every stored version of a key passes or fails together, so the
    * per-key max-LSN winner is unchanged), and load-bearing for point
    * reads: the filter reaches the parquet scan, so row-group stats prune
    * within the files manifest-level skipping kept. The result has the
    * columns `carry` (which hold the keys and `_lsn`): only they enter the
    * resolve's struct, so only they are scanned.
    */
  private def resolveWanted(wanted: Seq[FileEntry], schemaVer: Int,
      keyPred: Option[org.apache.spark.sql.Column], carry: Seq[String]): DataFrame = {
    def scan(fes: Seq[FileEntry]): DataFrame = {
      val df = readFiles(fes, schemaVer).select(carry.map(col): _*)
      keyPred.map(df.filter).getOrElse(df)
    }
    val deltaBuckets = wanted.filter(_.kind == FileEntry.Delta).map(_.bucket).toSet
    if (deltaBuckets.isEmpty) return scan(wanted)
    val (multi, pure) = wanted.partition(f => deltaBuckets.contains(f.bucket))
    val resolved = scan(multi)
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(carry.map(col): _*), col("_lsn")).as("r"))
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
    requireStringKey(snap)
    val b = bucketOfKey(key, snap.numBuckets)
    val k = UTF8String.fromString(key)
    snap.files.filter(f => f.bucket == b && mayOverlapKeyRange(f, k, k))
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
    else publicRows(resolveWanted(wanted, snap.schemaVer, Some(col(keyCols.head) === lit(key)),
      physicalSchema(snap.schemaVer).fieldNames.toSeq), snap)
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
    requireStringKey(snap)
    val lo = UTF8String.fromString(lower)
    val hi = UTF8String.fromString(upper)
    val wanted = snap.files.filter(f => mayOverlapKeyRange(f, lo, hi))
    publicRows(resolveWanted(wanted, snap.schemaVer,
      Some(col(keyCols.head) >= lit(lower) && col(keyCols.head) <= lit(upper)),
      physicalSchema(snap.schemaVer).fieldNames.toSeq), snap)
  }

  /** Point and range reads bucket and prune on the STRING form of the
    * first key, but the write side bucketed on the native column — on a
    * long-keyed table (e.g. the materialized pair table) the two hashes
    * disagree and a point read would prune to the wrong bucket and
    * silently return empty. Fail loudly instead.
    */
  private def requireStringKey(snap: Snapshot): Unit =
    require(registry(snap.schemaVer)(keyCols.head).dataType == StringType,
      s"point and range reads hash and prune the string form of the key; " +
        s"key column ${keyCols.head} is not a string")

  /** Buckets whose FILE SETS differ between two snapshots — the pruning
    * unit for [[readChangesSince]]: identical file sets imply identical
    * rows, so an untouched bucket never enters the diff. Compaction makes
    * a bucket eligible without changing its rows; the diff drops those
    * rows, so eligibility over-approximation costs read I/O, never
    * correctness.
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
    * Scale shape: reads only [[changedBuckets]], in one of two plans that
    * the driver picks from the manifests.
    *   - Append-only window: every file `from` holds in those buckets is
    *     still in `to` (merge-on-read epochs only add delta files). LWW is
    *     associative, so each key's `to` winner is the LWW of its `from`
    *     winner and its winner among the ADDED files: a key changed
    *     exactly when its added-files winner has a larger `_lsn` than its
    *     `from` winner, or it has no `from` winner (an equal `_lsn` is a
    *     duplicate re-emission). The added files at full width and
    *     `from`'s files as (keys, `_lsn`) alone meet in one aggregate: one
    *     exchange, no join, no base file read at full width.
    *   - Any file removed (copy-on-write, compaction, tombstone GC): both
    *     sides are LWW-resolved, the `from` side carrying only (keys,
    *     `_lsn`, `_deleted`), and meet in one full-outer join, which also
    *     carries the vanished-key DELETE.
    * Per-epoch windows on a bucketed 100 TB table touch a few buckets, not
    * the table. Retention: `from`'s manifest and data files must still
    * exist (run [[expireSnapshots]] with `keepLast` covering the oldest
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
    val fromFiles = filesIn(from, Some(bs))
    val toFiles = filesIn(to, Some(bs))
    val fromPaths = fromFiles.map(_.path).toSet
    val changed = if (fromPaths.subsetOf(toFiles.map(_.path).toSet)) {
      // `_a` tags the added files' rows; max_by skips the null orderings
      // of the other side, so `r` is the added-files winner
      val phys = physicalSchema(to.schemaVer)
      val fromKeys = readFiles(fromFiles, to.schemaVer).select(phys.map(f =>
        if (keyCols.contains(f.name) || f.name == "_lsn") col(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*)
      readFiles(toFiles.filterNot(f => fromPaths(f.path)), to.schemaVer).withColumn("_a", lit(true))
        .unionByName(fromKeys.withColumn("_a", lit(false)))
        .groupBy(keyCols.map(col): _*)
        .agg(max(when(!col("_a"), col("_lsn"))).as("_from_lsn"),
          max_by(struct(phys.fieldNames.map(col): _*), when(col("_a"), col("_lsn"))).as("r"))
        .filter(col("r").isNotNull && (col("_from_lsn").isNull || col("r._lsn") > col("_from_lsn")))
        .select(col("r.*"))
    } else {
      // ONE full-outer join on the key carries all three cases in a single
      // pass over each side (a separate reverse anti-join for the vanished
      // case would scan both sides twice):
      //   - to-winner with a different (or no) from-lsn  → UPSERT / DELETE
      //   - same (key, lsn) on both sides               → unchanged, dropped
      //   - from-key with NO to-row (tombstone GC'd mid-window) → DELETE
      //     with null payload, but only if LIVE at `from` — a key already
      //     dead there was already dead to the consumer
      val fromSide = readResolvedKeys(from, Some(bs))
        .select(keyCols.map(col) :+ col("_lsn").as("_from_lsn") :+
          col("_deleted").as("_from_deleted"): _*)
      readResolved(to, Some(bs))
        .join(fromSide, keyCols, "full_outer")
        .filter(
          (col("_lsn").isNotNull &&
            (col("_from_lsn").isNull || col("_from_lsn") =!= col("_lsn"))) ||
          (col("_lsn").isNull && !col("_from_deleted")))
    }
    changed
      .withColumn("change_type",
        when(col("_lsn").isNull || col("_deleted"), lit("DELETE"))
          .otherwise(lit("UPSERT")))
      .select(registry(to.schemaVer).fieldNames.map(col).toSeq :+ col("change_type"): _*)
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

  /** The names a column (known as `name` at `toVer`) carried, newest
    * first: the rename steps walked backward to `fromVer`, so the last is
    * its name at `fromVer`. A column added after `fromVer` resolves to a
    * name absent from the old schema — the caller null-fills, same as the
    * add-column case. From version 1 the list is the alias set the merge
    * path probes when an OLD producer still emits a pre-rename wire column.
    */
  private[graft] def historicalNames(name: String, toVer: Int, fromVer: Int = 1): Seq[String] =
    (toVer until fromVer by -1).foldLeft(Seq(name)) { (names, v) =>
      renames.get(v).flatMap(_.collectFirst { case (old, n) if n == names.last => old })
        .fold(names)(names :+ _)
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
    physicalSchema(toVer).fields.toSeq
      .map(f => f -> Some(historicalNames(f.name, toVer, fromVer).last).filter(have))
  }

  // ---- commit, write and maintenance: one-line forwarders to the bodies
  // in Commit, Writer and Maintenance, which document them ----

  def commit(newFiles: Seq[FileEntry], replacedBuckets: Set[Int], epochId: Long, schemaVer: Int,
      maxLsnSeen: Long, writerId: String = "", summary: Map[String, Long] = Map.empty,
      batchHash: Option[Long] = None, baseSnapshotId: Long = -1L,
      derivedBuckets: Set[Int] = Set.empty, newNumBuckets: Option[Int] = None): CommitResult =
    Commit.commit(this, newFiles, replacedBuckets, epochId, schemaVer, maxLsnSeen, writerId,
      summary, batchHash, baseSnapshotId, derivedBuckets, newNumBuckets)

  def writeDataFiles(df: DataFrame, schemaVer: Int,
      kind: String = FileEntry.Base): Seq[FileEntry] = Writer.writeDataFiles(this, df, schemaVer, kind)

  def compact(maxFilesPerBucket: Int = 4, dropTombstonesBelowLsn: Long = -1L,
      foldDeltas: Boolean = false): CommitResult =
    Maintenance.compact(this, maxFilesPerBucket, dropTombstonesBelowLsn, foldDeltas)

  def rebucket(newNumBuckets: Int): CommitResult = Maintenance.rebucket(this, newNumBuckets)

  def expireSnapshots(keepLast: Int = 2, orphanGraceMs: Long = defaultOrphanGraceMs,
      olderThanMs: Long = -1L): ExpiryReport =
    Maintenance.expireSnapshots(this, keepLast, orphanGraceMs, olderThanMs)
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

object LakeTable {

  /** Internal columns persisted alongside the public schema. `_lsn` is the
    * LSN of the winning write for the row (cross-batch last-writer-wins
    * needs it when events arrive out of order across micro-batches);
    * `_deleted` marks a tombstone (needed so a late lower-LSN update
    * cannot resurrect a deleted key).
    */
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

  /** Create an empty table at `root` with an initial schema version. */
  def create(
      spark: SparkSession, root: String, schemaVer: Int, numBuckets: Int,
      registry: Map[Int, StructType] = Model.schemaRegistry,
      keyCols: Seq[String] = Model.keyCols,
      renames: Map[Int, Map[String, String]] = Map.empty): LakeTable = {
    val t = new LakeTable(spark, root, registry, keyCols, renames)
    val (fs, metaDir) = (t.fs, t.metaDir)
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
    Commit.writeString(fs, Commit.hintPath(metaDir), Manifest.snapName(0L))
    t
  }

  def load(
      spark: SparkSession, root: String,
      registry: Map[Int, StructType] = Model.schemaRegistry,
      keyCols: Seq[String] = Model.keyCols,
      renames: Map[Int, Map[String, String]] = Map.empty): LakeTable =
    new LakeTable(spark, root, registry, keyCols, renames)

  def exists(spark: SparkSession, root: String): Boolean = {
    val t = new LakeTable(spark, root)
    t.fs.exists(t.metaDir) && t.snapshotIds.nonEmpty
  }

  /** The session's Hadoop conf, weakly keyed by session:
    * `sessionState.newHadoopConf()` deep-copies the whole SparkConf +
    * Hadoop resource set (~100 ms) on every call, a cost the serial driver
    * path must not pay per commit or per epoch. It copies the session's
    * runtime settings in too, so the conf is rebuilt when those change: a
    * setting made through `spark.conf` reaches the tables loaded after it.
    * Read-only, never mutated.
    */
  private val hadoopConfs = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, (Map[String, String], Configuration)]())

  private[graft] def hadoopConf(spark: SparkSession): Configuration = {
    val settings = spark.sessionState.conf.getAllConfs
    hadoopConfs.compute(spark, (s, got) =>
      if (got != null && got._1 == settings) got else (settings, s.sessionState.newHadoopConf()))._2
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

  /** File-skip predicate, in UTF8 BINARY order on both sides (the write
    * pass min/maxes in the same order): may `f` hold a first key in
    * [`lo`, `hi`]? A point probe is the range [k, k]. A file without a key
    * range never skips.
    */
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
}
