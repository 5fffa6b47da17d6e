package graft.lake

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}

/** One immutable data file of a snapshot. `bucket` is the hash-bucket of
  * `conv_id` the file belongs to (hidden partitioning); `schemaVer` is the
  * writer schema version recorded so old files can be conformed (cast /
  * null-filled) to the current table schema on read. `kind` distinguishes
  * copy-on-write `base` files (≤1 version per key per bucket across all
  * base files) from merge-on-read `delta` files (appended row versions the
  * read path resolves by max `_lsn` per key until compaction folds them).
  * `rows` / `live` are the file's exact row and non-tombstone row counts,
  * and `stats` its key range, all counted during the write
  * ([[Writer.writeDataFiles]]). `len` is the file's byte length, taken
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

/** A committed table snapshot. The commit protocol ([[Commit]]) gives the
  * load-bearing subset of Iceberg semantics the north rule needs, built
  * from scratch with no lake-format dependency:
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
  *
  * @param writerId identity of the stream that committed `epochId`;
  *                  epochs are fenced per writer ([[Commit.alreadyApplied]])
  * @param summary  the committing epoch's own record, as named counters
  *                  (Iceberg's snapshot `summary`): whatever the writer
  *                  needs to re-emit its per-epoch rows after a crash
  *                  between publish and emit. It is durable with the
  *                  commit, and the table never interprets it. Maintenance
  *                  commits carry an empty summary.
  * @param writerEpochs per-writer applied-epoch high-watermark. Epochs per
  *                  writer are monotonic (Structured Streaming retries an
  *                  epoch, never skips one), so a watermark IS the full
  *                  applied set.
  * @param batchHashes content hashes of recently applied batches, for
  *                  merge kernels that are NOT idempotent under re-apply
  *                  (ADD-merge stats, SCD2 close-out+insert), FIFO-capped
  *                  at [[Commit.maxBatchHashes]];
  *                  [[Commit.alreadyApplied]] says when one fences.
  * @param touched  buckets this commit replaced or appended to — the
  *                  commit's WRITE SET, persisted so a concurrent committer
  *                  rebasing over this snapshot can detect write-set
  *                  overlap (serializable conflict check), and the groups
  *                  whose manifests the commit rewrote.
  * @param groupRefs the snapshot's group manifests,
  *                  `_meta/m-g<g>-<uid>.json`, one per 64-bucket group that
  *                  holds files ([[Manifest]] says which a commit rewrites).
  *                  `files` is the file list loaded from the refs; a header
  *                  read ([[LakeTable.header]]) leaves it empty.
  * @param maint    true ⟺ a maintenance commit (compaction, rebucket): its
  *                  epochId and writerId are CARRIED FORWARD from the last
  *                  epoch commit, not its own, and its summary is empty — a
  *                  reader looking for an epoch's commit (the crash-window
  *                  channel replay) walks past maint snapshots to it.
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
    maint: Boolean = false)

/** Reference to one bucket-group manifest file: `g` is the group index
  * (`bucket / 64`, [[Manifest.GroupWidth]]), `path` the manifest's file name
  * under `_meta` (relative, so a table survives being moved), `n` its file
  * count (for cheap accounting without opening it).
  */
final case class GroupRef(g: Int, path: String, n: Int)

/** The table's metadata format: Iceberg's manifest-list shape, in `_meta`.
  * {{{
  *   snap-<id>.json     // one snapshot: its header fields + refs to its group manifests
  *   m-g<g>-<uid>.json  // one group manifest: the file entries of buckets [64g, 64g + 64)
  * }}}
  * A commit writes one group manifest per group its write set (`touched`)
  * falls in and reuses the parent's refs for every other group, so the
  * snapshot JSON and the metadata written per commit are O(groups
  * touched), never O(table): a table of ≤ 64 buckets has one group, a
  * 4096-bucket table 64. The publish order is data files → group
  * manifests → `snap-N`, and the put-if-absent `snap-N` is the commit; a
  * committer that loses the race for `snap-N` leaves its group manifests
  * as orphans for [[Maintenance.expireSnapshots]].
  *
  * The codec reads exactly what it writes. The one optional field is an
  * entry's key range (`mn`/`mx`): a file that holds null keys has none.
  * Hand-rolled JSON (Spark's Jackson only) keeps the format explicit.
  */
private[graft] object Manifest {

  /** Buckets per group manifest: group `g` holds buckets [64g, 64g + 64). */
  val GroupWidth = 64

  def snapName(id: Long): String = f"snap-$id%010d.json"

  /** The id a `snap-<id>.json` name carries; None for any other name. */
  def snapId(name: String): Option[Long] =
    if (name.startsWith("snap-") && name.endsWith(".json"))
      name.stripPrefix("snap-").stripSuffix(".json").toLongOption
    else None

  def isGroupManifest(name: String): Boolean = name.startsWith("m-g") && name.endsWith(".json")

  /** Commit `snap`, whose `files` are the whole post-commit list: write a
    * group manifest for each group `snap.touched` falls in that holds
    * files, keep `parent`'s refs for every other group, then publish
    * `snap-N` put-if-absent ([[Commit.publish]]). Returns the snapshot
    * as published, refs set, or None when `snap-N` already exists.
    */
  def publish(fs: FileSystem, meta: Path, parent: Seq[GroupRef], snap: Snapshot): Option[Snapshot] = {
    val changed = snap.touched.map(_ / GroupWidth).toSet
    val byGroup = snap.files.groupBy(_.bucket / GroupWidth)
    val fresh = changed.toSeq.flatMap(g => byGroup.get(g).map { fes =>
      val name = f"m-g$g%04d-${java.util.UUID.randomUUID.toString.take(12)}.json"
      Commit.writeString(fs, new Path(meta, name), s"""{"g":$g,"files":${filesJson(fes)}}""")
      GroupRef(g, name, fes.size)
    })
    val published = snap.copy(groupRefs = (parent.filterNot(r => changed(r.g)) ++ fresh).sortBy(_.g))
    if (Commit.publish(fs, new Path(meta, snapName(snap.id)), snapshotJson(published))) Some(published)
    else None
  }

  /** Snapshot `id` with its file list, loaded from its group manifests. */
  def read(fs: FileSystem, meta: Path, id: Long): Snapshot = {
    val s = readHeader(fs, meta, id)
    s.copy(files = s.groupRefs.flatMap(r =>
      parseFiles(mapper.readTree(Commit.readString(fs, new Path(meta, r.path))).get("files"))))
  }

  /** Snapshot `id` without its file list (`files` empty; the refs' `n`
    * sum to its size): one file read, for callers that walk headers.
    */
  def readHeader(fs: FileSystem, meta: Path, id: Long): Snapshot =
    parseSnapshot(Commit.readString(fs, new Path(meta, snapName(id))))

  // Jackson's mapper is thread-safe once configured; reads share one.
  private val mapper = new ObjectMapper()

  private def esc(x: String) = x.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def filesJson(fes: Seq[FileEntry]): String =
    fes.map { f =>
      val st = f.stats.map(s => s""","mn":"${esc(s.minKey)}","mx":"${esc(s.maxKey)}"""").getOrElse("")
      s"""{"path":"${esc(f.path)}","bucket":${f.bucket},"schemaVer":${f.schemaVer},""" +
        s""""rows":${f.rows},"live":${f.live},"kind":"${esc(f.kind)}"$st,"len":${f.len}}"""
    }.mkString("[", ",", "]")

  private def snapshotJson(s: Snapshot): String = {
    val sm = s.summary.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
    val we = s.writerEpochs.toSeq.sortBy(_._1)
      .map { case (w, e) => s"""{"w":"${esc(w)}","e":$e}""" }.mkString("[", ",", "]")
    val gs = s.groupRefs
      .map(r => s"""{"g":${r.g},"path":"${esc(r.path)}","n":${r.n}}""").mkString("[", ",", "]")
    s"""{"id":${s.id},"parent":${s.parent},"epochId":${s.epochId},"schemaVer":${s.schemaVer},""" +
      s""""numBuckets":${s.numBuckets},"rows":${s.rows},"maxLsn":${s.maxLsn},""" +
      s""""writer":"${esc(s.writerId)}","summary":$sm,"maint":${s.maint},""" +
      s""""touched":${s.touched.mkString("[", ",", "]")},"writerEpochs":$we,""" +
      s""""batchHashes":${s.batchHashes.mkString("[", ",", "]")},"groups":$gs}"""
  }

  private def elems(a: JsonNode): Seq[JsonNode] = a.elements().asScala.toSeq

  private def parseFiles(arr: JsonNode): Seq[FileEntry] = elems(arr).map { f =>
    val stats =
      if (f.has("mn")) Some(FileStats(f.get("mn").asText(), f.get("mx").asText())) else None
    FileEntry(f.get("path").asText(), f.get("bucket").asInt(), f.get("schemaVer").asInt(),
      f.get("rows").asLong(), f.get("live").asLong(), f.get("kind").asText(), stats,
      f.get("len").asLong())
  }

  private def parseSnapshot(json: String): Snapshot = {
    val n = mapper.readTree(json)
    Snapshot(n.get("id").asLong(), n.get("parent").asLong(), n.get("epochId").asLong(),
      n.get("schemaVer").asInt(), n.get("numBuckets").asInt(), n.get("rows").asLong(),
      n.get("maxLsn").asLong(), files = Nil,
      writerId = n.get("writer").asText(),
      summary = n.get("summary").properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap,
      writerEpochs = elems(n.get("writerEpochs")).map(e => e.get("w").asText() -> e.get("e").asLong()).toMap,
      batchHashes = elems(n.get("batchHashes")).map(_.asLong()),
      touched = elems(n.get("touched")).map(_.asInt()),
      groupRefs = elems(n.get("groups")).map(g =>
        GroupRef(g.get("g").asInt(), g.get("path").asText(), g.get("n").asInt())),
      maint = n.get("maint").asBoolean())
  }
}
