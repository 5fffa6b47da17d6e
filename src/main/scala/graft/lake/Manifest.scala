package graft.lake

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}

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
  * as orphans for [[LakeTable.expireSnapshots]].
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
    * `snap-N` put-if-absent ([[LakeTable.publish]]). Returns the snapshot
    * as published, refs set, or None when `snap-N` already exists.
    */
  def publish(fs: FileSystem, meta: Path, parent: Seq[GroupRef], snap: Snapshot): Option[Snapshot] = {
    val changed = snap.touched.map(_ / GroupWidth).toSet
    val byGroup = snap.files.groupBy(_.bucket / GroupWidth)
    val fresh = changed.toSeq.flatMap(g => byGroup.get(g).map { fes =>
      val name = f"m-g$g%04d-${java.util.UUID.randomUUID.toString.take(12)}.json"
      LakeTable.writeString(fs, new Path(meta, name), s"""{"g":$g,"files":${filesJson(fes)}}""")
      GroupRef(g, name, fes.size)
    })
    val published = snap.copy(groupRefs = (parent.filterNot(r => changed(r.g)) ++ fresh).sortBy(_.g))
    if (LakeTable.publish(fs, new Path(meta, snapName(snap.id)), snapshotJson(published))) Some(published)
    else None
  }

  /** Snapshot `id` with its file list, loaded from its group manifests. */
  def read(fs: FileSystem, meta: Path, id: Long): Snapshot = {
    val s = readHeader(fs, meta, id)
    s.copy(files = s.groupRefs.flatMap(r =>
      parseFiles(mapper.readTree(LakeTable.readString(fs, new Path(meta, r.path))).get("files"))))
  }

  /** Snapshot `id` without its file list (`files` empty; the refs' `n`
    * sum to its size): one file read, for callers that walk headers.
    */
  def readHeader(fs: FileSystem, meta: Path, id: Long): Snapshot =
    parseSnapshot(LakeTable.readString(fs, new Path(meta, snapName(id))))

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
