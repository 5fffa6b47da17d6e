package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path}

/** Result of a commit attempt: either applied (new snapshot) or fenced
  * (this epoch was already committed — idempotent replay no-op).
  */
final case class CommitResult(snapshot: Snapshot, applied: Boolean)

/** Thrown when a commit cannot be applied without losing a concurrent
  * committer's rows (write-set overlap with a missed commit), or when it
  * loses the snapshot-id race more than [[Commit.maxCommitRetries]] times.
  * Loud failure is the contract: the caller re-reads current state and
  * re-derives its files; nothing is ever silently dropped.
  */
final class CommitConflictException(msg: String) extends RuntimeException(msg)

/** The table's commit protocol, every step of it: find the current
  * snapshot ([[current]]), fence a replay ([[alreadyApplied]]), validate
  * the layout and write set against the commits missed since the base
  * ([[validate]]), build the next snapshot ([[next]]), publish it
  * put-if-absent ([[publish]]) and, after a lost claim, back off and retry.
  *
  * Multi-writer safety: commits are optimistic-concurrency. Publishing
  * `snap-N` IS the commit — two committers racing for `snap-N` (separate
  * drivers, e.g. the CDC stream plus an out-of-band compaction) cannot
  * both win, and a committer that dies after publishing has committed.
  * The loser backs off and retries on the new parent after the write-set
  * check, never silently losing a snapshot. Within one JVM, commits on the
  * same table instance additionally serialize on the instance lock.
  */
private[graft] object Commit {

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

  /** The current snapshot: the highest published `snap-N`. `_current` is
    * only a hint where to start looking. Ids are dense, so probing forward
    * from the hint costs O(1 + lag) existence checks; a missing or
    * unreadable hint, or one whose manifest an expiry deleted, falls back
    * to listing `_meta`.
    */
  def current(t: LakeTable): Snapshot =
    try t.snapshot(latestFrom(t, hintId(t)))
    catch { case _: java.io.FileNotFoundException => t.snapshot(latestFrom(t, -1L)) }

  private def latestFrom(t: LakeTable, hint: Long): Long = {
    var id = if (hint >= 0) hint else t.snapshotIds.lastOption.getOrElse(
      throw new java.io.FileNotFoundException(s"no lake table at ${t.root} (no snapshot in ${t.metaDir})"))
    while (t.fs.exists(t.snapPath(id + 1))) id += 1
    id
  }

  /** The id `_current` names, or -1. The hint is rewritten in place, so a
    * racing read can see it empty or cut short; only a whole name counts.
    */
  private def hintId(t: LakeTable): Long =
    try Manifest.snapId(readString(t.fs, hintPath(t.metaDir)).trim).getOrElse(-1L)
    catch { case _: java.io.IOException => -1L }

  private[lake] def hintPath(meta: Path): Path = new Path(meta, "_current")

  /** The one fence decision: is the batch that `writerId` is about to
    * commit as `epochId` (with content hash `batchHash`, for kernels that
    * are not idempotent under re-apply) already in `cur`? Merge kernels
    * ask it before writing any data file, and [[commit]] asks it again of
    * the snapshot it commits on.
    *
    * The writer's epoch watermark decides first, scoped per writer: only
    * the SAME writer's commit of this epoch or a later one fences. A
    * fresh checkpoint mints a new writer whose epochIds restart at 0; it
    * re-applies (silent fencing would be data loss), which the LWW merge
    * makes row-level idempotent. The per-writer map keeps every writer's
    * fence alive across hand-overs (a last-writer-only pair would forget).
    *
    * The content hash decides only for a writer with no watermark yet: it
    * exists for exactly that checkpoint-swap window, where a new writer
    * re-delivers batches the previous one applied (reference analog:
    * content-hash `batch_id` idempotent loads,
    * Docs/etl_requirements_reviewed_by_sr.md:162-165). For an established
    * writer it could only produce false positives — two distinct batches
    * with identical content (plausible for the ADD-merge stats kernel)
    * would be silently dropped. A hash fence is logged when it fires;
    * otherwise the decision is pure, so a kernel may ask before it writes
    * and [[commit]] ask again without logging anything twice.
    */
  def alreadyApplied(cur: Snapshot, epochId: Long, writerId: String,
      batchHash: Option[Long] = None): Boolean = cur.writerEpochs.get(writerId) match {
    case Some(watermark) => epochId >= 0 && watermark >= epochId
    case None =>
      val redelivered = batchHash.exists(cur.batchHashes.contains)
      if (redelivered)
        System.err.println(s"[lake] content-hash fence: writer '$writerId' epoch $epochId " +
          s"re-delivered an already-applied batch (hash ${batchHash.get}) — commit skipped")
      redelivered
  }

  /** Atomically commit a new snapshot that replaces all files of
    * `replacedBuckets` with `newFiles` and (possibly) advances the schema
    * version. A batch [[alreadyApplied]] is fenced: nothing is written and
    * the existing snapshot is returned (`applied = false`) — this is the
    * exactly-once guarantee under foreachBatch replay.
    *
    * `baseSnapshotId` is the snapshot the CALLER derived `newFiles` from
    * (its read set); when commits landed since, and any of them replaced
    * one of our buckets, retrying would silently drop those rows — so the
    * commit throws [[CommitConflictException]] instead (the caller
    * re-reads and re-derives). Append-only commits (`replacedBuckets`
    * empty) rebase unconditionally, like Iceberg appends, WHEN their files
    * derive only from batch input, never from table state; an append whose
    * CONTENT was derived from a read of the table (a merge-mode gate
    * probing live keys under merge-on-read) passes those read buckets as
    * `derivedBuckets` so the same serializable check covers its read set.
    * `newNumBuckets` is set ONLY by a rebucket: the commit re-routes every
    * row, so `newFiles` carry NEW-layout bucket ids and the snapshot
    * records the new count (`replacedBuckets` still names OLD-layout
    * buckets).
    */
  def commit(t: LakeTable, newFiles: Seq[FileEntry], replacedBuckets: Set[Int], epochId: Long,
      schemaVer: Int, maxLsnSeen: Long, writerId: String, summary: Map[String, Long],
      batchHash: Option[Long], baseSnapshotId: Long, derivedBuckets: Set[Int],
      newNumBuckets: Option[Int]): CommitResult = t.synchronized {
    var attempt = 0
    while (attempt <= maxCommitRetries) {
      val cur = current(t)
      if (alreadyApplied(cur, epochId, writerId, batchHash)) return CommitResult(cur, applied = false)
      // The hash window is FIFO-capped: a redelivery backlog longer than
      // maxBatchHashes would re-apply its evicted prefix undetected, so an
      // unestablished writer committing into a full window says so loudly.
      if (batchHash.isDefined && !cur.writerEpochs.contains(writerId) &&
        cur.batchHashes.size >= maxBatchHashes)
        System.err.println(s"[lake] content-hash window SATURATED ($maxBatchHashes) while " +
          s"unestablished writer '$writerId' commits epoch $epochId: a redelivery older " +
          "than the window would double-apply undetected — ensure maxBatchHashes covers " +
          "the source's retained backlog")
      if (baseSnapshotId >= 0 && cur.id != baseSnapshotId)
        validate(t, baseSnapshotId, cur, replacedBuckets ++ derivedBuckets, writerId)
      val snap = next(cur, newFiles, replacedBuckets, epochId, schemaVer, maxLsnSeen, writerId,
        summary, batchHash, newNumBuckets)
      Manifest.publish(t.fs, t.metaDir, cur.groupRefs, snap) match {
        case Some(published) =>
          // The snapshot is committed; the hint only saves the next reader
          // a longer probe, so failing to write it fails nothing.
          try writeString(t.fs, hintPath(t.metaDir), Manifest.snapName(snap.id))
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
      s"commit by writer '$writerId' lost the snapshot-claim race $maxCommitRetries times at ${t.root}")
  }

  /** Validate a commit derived from `base` against `cur`, which moved past
    * it. Layout check FIRST, and for EVERY commit that moved — including
    * append-only (merge-on-read) commits, which otherwise rebase
    * unconditionally: `newFiles` bucket ids were computed with the BASE
    * snapshot's bucket transform, so if a rebucket landed in between,
    * registering them would plant old-layout ids in a new-layout snapshot
    * and bucket-pruned reads would silently miss those rows. An unreadable
    * (expired) base conflicts too: a commit derived from a snapshot that
    * retention already dropped cannot prove its layout.
    *
    * Then the serializable check for commits whose content depends on
    * table state (`dependsOn` nonempty): every missed commit must be
    * write-set-disjoint from our write set (blind file replacement would
    * drop its rows) AND from our read set (a merge-mode gate probed
    * liveness there — e.g. InsertOnly admitted a key another writer has
    * since made live). A missed commit that already expired has an unknown
    * write set and conflicts by definition: failing loud beats silently
    * dropping its rows.
    */
  private def validate(t: LakeTable, base: Long, cur: Snapshot, dependsOn: Set[Int],
      writerId: String): Unit = {
    val baseNb =
      try t.header(base).numBuckets
      catch { case scala.util.control.NonFatal(_) => -1 }
    if (baseNb != cur.numBuckets)
      throw new CommitConflictException(
        s"commit by writer '$writerId' at ${t.root} derived its files from snapshot " +
          s"$base (numBuckets=$baseNb) but the table is now at " +
          s"numBuckets=${cur.numBuckets} — bucket layout changed (or the base " +
          "expired); re-read and re-derive")
    var id = cur.id
    var s = cur
    while (dependsOn.nonEmpty && id > base) {
      val overlap = s.touched.filter(dependsOn.contains)
      if (overlap.nonEmpty)
        throw new CommitConflictException(
          s"concurrent commit conflict at ${t.root}: snapshot $id (writer '${s.writerId}') " +
            s"touched buckets ${overlap.mkString(",")} that writer '$writerId' derived its " +
            s"files from (base snapshot $base) — re-read and retry")
      id = s.parent
      // Header read: the walk reads `touched`/`parent`/`writerId`, never
      // file lists, so it opens no group manifest on the commit path.
      if (id > base) s =
        try t.header(id)
        catch {
          case e: Exception => throw new CommitConflictException(
            s"concurrent commit conflict at ${t.root}: snapshot $id expired before writer " +
              s"'$writerId' (base $base) could validate against it (${e.getMessage})")
        }
    }
  }

  /** The snapshot a commit publishes on top of `cur`. A maintenance commit
    * (`epochId < 0`) carries the epoch, writer and watermarks forward.
    */
  private def next(cur: Snapshot, newFiles: Seq[FileEntry], replacedBuckets: Set[Int],
      epochId: Long, schemaVer: Int, maxLsnSeen: Long, writerId: String,
      summary: Map[String, Long], batchHash: Option[Long], newNumBuckets: Option[Int]): Snapshot = {
    val allFiles = cur.files.filterNot(f => replacedBuckets.contains(f.bucket)) ++ newFiles
    Snapshot(
      id = cur.id + 1,
      parent = cur.id,
      epochId = if (epochId >= 0) epochId else cur.epochId,
      schemaVer = math.max(schemaVer, cur.schemaVer),
      numBuckets = newNumBuckets.getOrElse(cur.numBuckets),
      // Live-row count is exact from manifest stats while the one-version-
      // per-key invariant holds (no unresolved delta files). With deltas
      // pending it is UNKNOWN (-1) until compaction folds them — a delta row
      // may shadow a base row, so summing would double-count; Iceberg's MoR
      // record_count has the same caveat.
      rows = if (allFiles.exists(_.kind == FileEntry.Delta)) -1L else allFiles.map(_.live).sum,
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
  }

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

  /** Plain overwrite, past the checksum layer of a checksummed FS such as
    * `file:`: the `_current` hint is rewritten in place, and a reader
    * racing that rewrite must see a short read, not a data/`.crc` mismatch
    * (which the local FS answers by moving the file to `bad_files`).
    */
  def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val raw = fs match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case o => o
    }
    val out = raw.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Name prefix of [[publish]]'s temps: hidden, and never `snap-` or `m-`. */
  val PublishTempPrefix = ".publish-"

  /** Put-if-absent write — the commit point of a snapshot and the engine's
    * only create-if-absent path. The bytes go to a hidden temp beside `p`
    * first; the temp is then put in place by an operation that fails
    * atomically when `p` exists: `link(2)` on `file:` (NIO's ATOMIC_MOVE
    * is `rename(2)`, which would silently replace `p`) and
    * `FileContext.rename(NONE)` elsewhere (atomic at the HDFS namenode).
    * So a reader sees no file or the whole file, never a partial one.
    * Returns false when `p` already exists. A temp a crash leaks is swept
    * by [[Maintenance.expireSnapshots]].
    */
  def publish(fs: FileSystem, p: Path, s: String): Boolean = {
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

  def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
  }
}
