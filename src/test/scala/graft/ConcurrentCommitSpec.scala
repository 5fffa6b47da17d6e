package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{CommitConflictException, FileEntry, LakeTable, Manifest}

/** Multi-writer commit safety: two committers on SEPARATE LakeTable
  * instances (the two-driver deployment shape — a CDC stream plus an
  * out-of-band maintenance job) must never silently lose a commit. Either
  * both land (disjoint write sets → rebase) or one fails loudly with
  * CommitConflictException (overlapping write sets / unresolvable race).
  * Publishing `snap-N` is the commit; `_current` is only a hint.
  */
class ConcurrentCommitSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(8, appName = "concurrent-commit-spec")

  private def tmp(): String = Files.createTempDirectory("graft-cc-").toString

  /** Synthetic manifest entry — commit records paths without reading them,
    * so concurrency tests need no parquet bytes on disk.
    */
  private def fe(bucket: Int, tag: String): FileEntry =
    FileEntry(s"/nonexistent/$tag-b$bucket.parquet", bucket, 1, rows = 1L, live = 1L)

  test("two writers on disjoint buckets: every commit survives (claim race rebases)") {
    val root = tmp()
    LakeTable.create(spark, root, schemaVer = 1, numBuckets = 8)
    val n = 12
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    def writerTask(wid: String, bucket: Int) = new Runnable {
      def run(): Unit = {
        // a SEPARATE instance per writer — the in-process lock must not be
        // what saves us; only the claim protocol serializes these
        val t = LakeTable.load(spark, root)
        start.await()
        (0 until n).foreach { e =>
          val base = t.current.id
          val r = t.commit(Seq(fe(bucket, s"$wid-e$e")), Set(bucket), e.toLong,
            schemaVer = 1, maxLsnSeen = e.toLong, writerId = wid,
            baseSnapshotId = base)
          assert(r.applied, s"$wid epoch $e was not applied")
        }
      }
    }
    val fa = pool.submit(writerTask("wA", 0))
    val fb = pool.submit(writerTask("wB", 1))
    start.countDown()
    fa.get(120, TimeUnit.SECONDS)
    fb.get(120, TimeUnit.SECONDS)
    pool.shutdown()

    val t = LakeTable.load(spark, root)
    val cur = t.current
    // 2n commits → snapshot id 2n, no lost snapshot ids
    assert(cur.id == 2L * n, s"expected ${2 * n} commits to survive, current id = ${cur.id}")
    // final state holds BOTH writers' last files
    val byBucket = cur.files.groupBy(_.bucket)
    assert(byBucket(0).map(_.path) == Seq(fe(0, s"wA-e${n - 1}").path))
    assert(byBucket(1).map(_.path) == Seq(fe(1, s"wB-e${n - 1}").path))
    // both watermark fences survived the interleaving
    assert(cur.writerEpochs == Map("wA" -> (n - 1).toLong, "wB" -> (n - 1).toLong))
  }

  test("stale base replacing a bucket a missed commit touched fails loudly") {
    val root = tmp()
    LakeTable.create(spark, root, schemaVer = 1, numBuckets = 8)
    val a = LakeTable.load(spark, root)
    val b = LakeTable.load(spark, root)
    val base = a.current.id
    // writer A lands first, touching bucket 3
    assert(a.commit(Seq(fe(3, "a")), Set(3), 0L, 1, 0L, writerId = "wA",
      baseSnapshotId = base).applied)
    // writer B derived its files from the PRE-A snapshot and also replaces
    // bucket 3 — a blind retry would drop A's rows, so it must throw
    val ex = intercept[CommitConflictException] {
      b.commit(Seq(fe(3, "b")), Set(3), 0L, 1, 0L, writerId = "wB",
        baseSnapshotId = base)
    }
    assert(ex.getMessage.contains("bucket"))
    // A's commit is intact
    assert(LakeTable.load(spark, root).current.files.exists(_.path == fe(3, "a").path))
  }

  test("stale base is fine when the missed commits are write-set-disjoint") {
    val root = tmp()
    LakeTable.create(spark, root, schemaVer = 1, numBuckets = 8)
    val a = LakeTable.load(spark, root)
    val b = LakeTable.load(spark, root)
    val base = a.current.id
    assert(a.commit(Seq(fe(3, "a")), Set(3), 0L, 1, 0L, writerId = "wA",
      baseSnapshotId = base).applied)
    // B missed A's commit but touches bucket 5 only → rebases and lands
    assert(b.commit(Seq(fe(5, "b")), Set(5), 0L, 1, 0L, writerId = "wB",
      baseSnapshotId = base).applied)
    val files = LakeTable.load(spark, root).current.files
    assert(files.exists(_.path == fe(3, "a").path) && files.exists(_.path == fe(5, "b").path))
  }

  test("append-only (merge-on-read delta) commits rebase unconditionally") {
    val root = tmp()
    LakeTable.create(spark, root, schemaVer = 1, numBuckets = 8)
    val a = LakeTable.load(spark, root)
    val b = LakeTable.load(spark, root)
    val base = a.current.id
    assert(a.commit(Seq(fe(3, "a")), Set(3), 0L, 1, 0L, writerId = "wA",
      baseSnapshotId = base).applied)
    // B appends a delta file to the SAME bucket from the same stale base:
    // its rows derive only from batch input, so no conflict by design
    val delta = FileEntry("/nonexistent/b-delta.parquet", 3, 1, rows = 1L,
      live = 1L, kind = FileEntry.Delta)
    assert(b.commit(Seq(delta), Set.empty, 0L, 1, 0L, writerId = "wB",
      baseSnapshotId = base).applied)
    val files = LakeTable.load(spark, root).current.files
    assert(files.exists(_.path == fe(3, "a").path) && files.exists(_.path == delta.path))
  }

  private def snapFile(root: String, id: Long) = Paths.get(root, "_meta", f"snap-$id%010d.json")

  test("a published snapshot whose committer never wrote the hint is current, " +
      "and the next commit lands on top of it at once") {
    val root = tmp()
    val t = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 8)
    // a committer that died right after publishing snap-1: its group
    // manifest and snapshot are whole, but the `_current` hint still names
    // snap-0
    val crashed = t.current.copy(id = 1L, parent = 0L, epochId = 0L, writerId = "wDead",
      files = Seq(fe(0, "dead")), writerEpochs = Map("wDead" -> 0L), touched = Seq(0))
    val meta = new org.apache.hadoop.fs.Path(root, "_meta")
    assert(Manifest.publish(meta.getFileSystem(spark.sessionState.newHadoopConf()), meta,
      t.current.groupRefs, crashed).isDefined)
    assert(Files.readString(Paths.get(root, "_meta", "_current")).trim ==
      snapFile(root, 0L).getFileName.toString)
    assert(t.current.id == 1L && t.current.files == crashed.files)
    val t0 = System.nanoTime()
    val r = t.commit(Seq(fe(1, "next")), Set(1), 0L, 1, 0L, writerId = "wX",
      baseSnapshotId = t.current.id)
    val ms = (System.nanoTime() - t0) / 1000000L
    assert(r.applied && r.snapshot.id == 2L && r.snapshot.parent == 1L)
    // landing must not wait on a hint update that never comes
    assert(ms < 3000L, s"commit took $ms ms")
    val cur = LakeTable.load(spark, root).current
    assert(cur.id == 2L && cur.files.map(_.path).toSet == Set(fe(0, "dead").path, fe(1, "next").path))
    // the crashed writer's replay of its epoch is fenced: it committed
    assert(!t.commit(Seq(fe(0, "dead")), Set(0), 0L, 1, 0L, writerId = "wDead").applied)
  }

  test("current resolves to the newest snapshot when the hint is missing, empty, " +
      "cut short or names an expired snapshot") {
    val root = tmp()
    val t = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 8)
    (0 until 3).foreach(e => assert(t.commit(Seq(fe(e, s"e$e")), Set(e), e.toLong, 1,
      e.toLong, writerId = "w").applied))
    t.expireSnapshots(keepLast = 1, orphanGraceMs = 0L)
    assert(t.snapshotIds == Seq(3L))
    val hint = Paths.get(root, "_meta", "_current")
    def check(what: String): Unit = {
      val cur = LakeTable.load(spark, root).current
      assert(cur.id == 3L && cur.files.size == 3, what)
    }
    Files.delete(hint)
    check("missing")
    Files.writeString(hint, "")
    check("empty")
    Files.writeString(hint, "snap-00000")
    check("cut short")
    Files.writeString(hint, snapFile(root, 1L).getFileName.toString)
    check("expired target")
  }

  test("history and expiry beside ~200 commits never read a partial manifest") {
    val root = tmp()
    LakeTable.create(spark, root, schemaVer = 1, numBuckets = 8)
    val n = 200
    val done = new AtomicBoolean(false)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val committer = new Thread(() => {
      val t = LakeTable.load(spark, root)
      try (0 until n).foreach(e => assert(t.commit(Seq(fe(e % 8, s"e$e")), Set(e % 8),
        e.toLong, 1, e.toLong, writerId = "w").applied))
      catch { case e: Throwable => errors.add(e) }
      finally done.set(true)
    })
    val lister = LakeTable.load(spark, root)
    lister.history // warm the DataFrame path before the race starts
    committer.start()
    var rounds = 0
    while (!done.get) {
      try {
        lister.history
        lister.expireSnapshots(orphanGraceMs = 30L * 60 * 1000)
      } catch { case e: Throwable => errors.add(e) }
      rounds += 1
    }
    committer.join()
    assert(errors.isEmpty, errors.iterator.asScala.map(_.toString).mkString("\n"))
    assert(rounds > 1)
    assert(LakeTable.load(spark, root).current.id == n.toLong)
  }

  test("re-creating a table over an existing one starts metadata-fresh " +
      "(stale snapshot claims cannot deadlock the next commit)") {
    val root = tmp()
    val t1 = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 8)
    assert(t1.commit(Seq(fe(0, "old")), Set(0), 0L, 1, 1L, writerId = "w1").applied)
    assert(t1.commit(Seq(fe(1, "old")), Set(1), 1L, 1, 2L, writerId = "w1").applied)
    // Re-create: the previous incarnation's snap-1/snap-2 manifests must
    // not survive — a fresh table's first commit claims id 1, and a stale
    // snap-1.json would make that claim lose forever (observed deadlock
    // when a killed bench child's table path was reused).
    val t2 = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 8)
    assert(t2.current.id == 0L && t2.current.files.isEmpty)
    assert(t2.current.writerEpochs.isEmpty) // w1's fence is gone too
    val res = t2.commit(Seq(fe(2, "new")), Set(2), 0L, 1, 1L, writerId = "w2")
    assert(res.applied && res.snapshot.id == 1L)
    assert(t2.current.files.map(_.bucket) == Seq(2))
  }
}
