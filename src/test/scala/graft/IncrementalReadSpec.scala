package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.MergeApply
import graft.gen.ChangeGen
import graft.gen.ChangeGen.GenConfig
import graft.lake.LakeTable
import graft.model.Model

/** CDC-out: `LakeTable.readChangesSince` — the incremental changelog read
  * a downstream consumer uses to follow the table snapshot-to-snapshot.
  * The contract under test: applying the emitted window to a copy of the
  * `from` state reproduces the `to` state exactly, under LSN inversions,
  * compaction inside the window, and tombstone GC.
  */
class IncrementalReadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(8, appName = "increread-spec")

  private def tmp(): String = Files.createTempDirectory("graft-increread-").toString

  private val ts = new java.sql.Timestamp(1704067200000L)

  private def ev(lsn: Long, op: String, conv: String, turn: Int, text: String) =
    Model.ChangeEvent(lsn, op, 2, conv, turn,
      if (op == "D") None else Some("user"),
      if (op == "D") None else Some(text), None,
      if (op == "D") None else Some(ts))

  private def batch(events: Model.ChangeEvent*) = {
    import spark.implicits._
    spark.createDataset(events.toSeq).toDF()
  }

  private def changes(table: LakeTable, fromId: Long):
      Seq[(String, Int, Option[String], String)] = {
    import spark.implicits._
    table.readChangesSince(fromId)
      .select($"conv_id", $"turn_idx".cast("int"), $"text", $"change_type")
      .as[(String, Int, Option[String], String)]
      .collect().toSeq.sortBy(r => (r._1, r._2))
  }

  test("generated replay: applying the window to the from-state reproduces " +
      "the to-state (compaction mid-window)") {
    import spark.implicits._
    val cfg = GenConfig(numConvs = 40, maxTurns = 20, numEvents = 2000)
    val table = LakeTable.create(spark, tmp(), schemaVer = 1, numBuckets = 8)
    val per = cfg.totalRows / 4
    (0 until 2).foreach { b =>
      MergeApply.applyBatch(table,
        ChangeGen.eventSlice(spark, cfg, b * per, (b + 1) * per).toDF(), b.toLong)
    }
    val fromId = table.current.id
    // key → text map: the per-turn text-equality contract, stable across
    // the v1→v2 schema evolution the replay crosses mid-window
    def keyedText(df: org.apache.spark.sql.DataFrame): Map[(String, Long), String] =
      df.select($"conv_id", $"turn_idx".cast("long"), $"text")
        .as[(String, Long, String)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    val fromState = keyedText(table.read())
    (2 until 4).foreach { b =>
      MergeApply.applyBatch(table,
        ChangeGen.eventSlice(spark, cfg, b * per,
          math.min(cfg.totalRows, (b + 1) * per)).toDF(), b.toLong)
      if (b == 2) assert(table.compact(maxFilesPerBucket = 0).applied)
    }
    val toState = keyedText(table.read())

    val window = table.readChangesSince(fromId)
      .select($"conv_id", $"turn_idx".cast("long"), $"text", $"change_type")
      .as[(String, Long, String, String)].collect()
    val upserts = window.filter(_._4 == "UPSERT").map(r => (r._1, r._2) -> r._3).toMap
    val deleteKeys = window.filter(_._4 == "DELETE").map(r => (r._1, r._2)).toSet
    // apply the window onto the from-state: changed keys replaced, deletes
    // removed — must land exactly on the to-state
    val applied = (fromState -- upserts.keys -- deleteKeys) ++ upserts
    assert(applied == toState)
    assert(window.nonEmpty)
    // deletes only kill keys that were (or could have been) live at `from`
    deleteKeys.foreach(k => assert(!toState.contains(k)))
  }

  test("late event with an OLD LSN that wins its key IS emitted " +
      "(the case an lsn-watermark filter misses)") {
    val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 4)
    // from-state: maxLsn = 100
    MergeApply.applyBatch(table, batch(ev(100, "I", "a", 1, "a1")), 0L)
    val fromId = table.current.id
    // window: brand-new key (c,3) arrives LATE with lsn 7 << 100 and wins
    // (nothing newer exists for it); (a,1) untouched
    MergeApply.applyBatch(table, batch(ev(7, "I", "c", 3, "late")), 1L)
    assert(changes(table, fromId) ==
      Seq(("c", 3, Some("late"), "UPSERT")))
  }

  test("delete emits a DELETE row; an unchanged-winner key is NOT emitted " +
      "even when its bucket was rewritten") {
    val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 1)
    // one bucket: every commit rewrites it, so pruning alone can't save
    // unchanged keys — the (key, lsn) anti-join must
    MergeApply.applyBatch(table, batch(
      ev(10, "I", "a", 1, "a1"), ev(20, "I", "b", 2, "b1")), 0L)
    val fromId = table.current.id
    MergeApply.applyBatch(table, batch(
      ev(30, "D", "a", 1, ""), ev(15, "U", "b", 2, "stale-loses")), 1L)
    assert(changes(table, fromId) == Seq(("a", 1, None, "DELETE")))
  }

  test("pure compaction between snapshots yields an empty window") {
    val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 4)
    MergeApply.applyBatch(table, batch(
      ev(1, "I", "a", 1, "a1"), ev(2, "I", "b", 2, "b1"),
      ev(3, "U", "a", 1, "a2")), 0L)
    val fromId = table.current.id
    table.compact(maxFilesPerBucket = 0)
    assert(table.current.id > fromId)
    assert(changes(table, fromId) == Seq.empty)
  }

  test("tombstone GC'd inside the window still surfaces as a DELETE; " +
      "a key already dead at `from` does not") {
    val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 4)
    MergeApply.applyBatch(table, batch(
      ev(10, "I", "a", 1, "a1"), ev(20, "D", "b", 2, "")), 0L)
    val fromId = table.current.id // (a,1) live; (b,2) already a tombstone
    MergeApply.applyBatch(table, batch(ev(30, "D", "a", 1, "")), 1L)
    // GC both tombstones: (a,1)'s delete happened INSIDE the window and
    // must survive as a change; (b,2)'s GC is not a change
    table.compact(maxFilesPerBucket = 0, dropTombstonesBelowLsn = 1000L)
    assert(changes(table, fromId) == Seq(("a", 1, None, "DELETE")))
  }

  test("a follower consuming every per-snapshot window converges to the " +
      "source table (explicit toSnapshotId, maintenance snapshots included)") {
    import spark.implicits._
    val cfg = GenConfig(numConvs = 30, maxTurns = 15, numEvents = 1200)
    val table = LakeTable.create(spark, tmp(), schemaVer = 1, numBuckets = 8)
    val per = cfg.totalRows / 3
    (0 until 3).foreach { b =>
      MergeApply.applyBatch(table,
        ChangeGen.eventSlice(spark, cfg, b * per,
          math.min(cfg.totalRows, (b + 1) * per)).toDF(), b.toLong)
      if (b == 1) assert(table.compact(maxFilesPerBucket = 0).applied)
    }
    // follower: key → text copy, advanced one snapshot window at a time
    var follower = Map.empty[(String, Long), String]
    val ids = table.snapshotIds
    ids.zip(ids.tail).foreach { case (prev, next) =>
      table.readChangesSince(prev, next)
        .select($"conv_id", $"turn_idx".cast("long"), $"text", $"change_type")
        .as[(String, Long, String, String)].collect()
        .foreach {
          case (c, t, txt, "UPSERT") => follower += ((c, t) -> txt)
          case (c, t, _, _) => follower -= ((c, t))
        }
    }
    val source = table.read()
      .select($"conv_id", $"turn_idx".cast("long"), $"text")
      .as[(String, Long, String)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(follower == source)
  }

  test("merge-on-read window: unresolved delta files LWW-resolve inside " +
      "the diff (winner correct, losers absent)") {
    val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 1)
    MergeApply.applyBatch(table, batch(
      ev(10, "I", "a", 1, "a1"), ev(20, "I", "b", 2, "b1")), 0L)
    val fromId = table.current.id
    // two MoR delta appends touch (a,1) twice — the diff must emit the
    // resolved winner once, not one row per delta version
    MergeApply.applyBatch(table, batch(ev(30, "U", "a", 1, "a2")), 1L,
      strategy = graft.cdc.WriteStrategy.MergeOnRead)
    MergeApply.applyBatch(table, batch(
      ev(40, "U", "a", 1, "a3"), ev(15, "U", "b", 2, "stale-loses")), 2L,
      strategy = graft.cdc.WriteStrategy.MergeOnRead)
    assert(changes(table, fromId) == Seq(("a", 1, Some("a3"), "UPSERT")))
  }

  test("readAt time-travels: the bookmarked state reads back exactly " +
      "after later commits and compaction") {
    import spark.implicits._
    val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 4)
    MergeApply.applyBatch(table, batch(
      ev(1, "I", "a", 1, "a1"), ev(2, "I", "b", 2, "b1")), 0L)
    val bookmark = table.current.id
    val before = table.read().collect().map(_.toSeq).toSet
    MergeApply.applyBatch(table, batch(
      ev(10, "U", "a", 1, "a2"), ev(11, "D", "b", 2, ""),
      ev(12, "I", "c", 3, "c1")), 1L)
    table.compact(maxFilesPerBucket = 0)
    assert(table.readAt(bookmark).collect().map(_.toSeq).toSet == before)
    assert(table.readAt(bookmark).count() == 2)
    assert(table.read().count() == 2) // a2 + c1, b deleted
  }

  test("full loop: CDC-in via the streaming path, CDC-out via per-epoch " +
      "changelog windows keyed off the metrics channel — follower equals source") {
    import spark.implicits._
    val base = tmp()
    val cfg = GenConfig(numConvs = 30, maxTurns = 15, numEvents = 1500)
    val all = ChangeGen.emittedEvents(spark, cfg).collect()
    all.grouped((all.length + 3) / 4).zipWithIndex.foreach { case (chunk, i) =>
      graft.cdc.StreamFiles.writeFlat(
        spark.createDataset(chunk.toSeq).toDF(), s"$base/events", f"chunk-$i%04d")
    }
    val table = LakeTable.create(spark, s"$base/table", schemaVer = 1, numBuckets = 8)
    graft.cdc.CdcStream.runAvailable(spark, table, s"$base/events", s"$base/cp",
      graft.cdc.CdcStream.StreamConfig(maxFilesPerTrigger = 1))
    // a downstream consumer discovers commit points from the metrics
    // channel (epoch → snapshot id) and pulls each window via the
    // changelog read — the engine's CDC-in → CDC-out loop end to end
    val commitIds = graft.cdc.CdcStream.metrics(spark, table.root)
      .select($"snapshot_id").as[Long].collect().sorted
    assert(commitIds.length >= 4)
    var follower = Map.empty[(String, Long), String]
    (0L +: commitIds.toSeq).zip(commitIds.toSeq).foreach { case (prev, next) =>
      table.readChangesSince(prev, next)
        .select($"conv_id", $"turn_idx".cast("long"), $"text", $"change_type")
        .as[(String, Long, String, String)].collect()
        .foreach {
          case (c, t, txt, "UPSERT") => follower += ((c, t) -> txt)
          case (c, t, _, _) => follower -= ((c, t))
        }
    }
    val source = table.read()
      .select($"conv_id", $"turn_idx".cast("long"), $"text")
      .as[(String, Long, String)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(follower == source)
  }

  test("append-only windows (the manifest rule) equal a full-outer reference " +
      "diff; windows with a compaction or a copy-on-write epoch inside do too") {
    import graft.cdc.WriteStrategy.{CopyOnWrite, MergeOnRead}
    import graft.lake.Snapshot
    val table = LakeTable.create(spark, tmp(), schemaVer = 1, numBuckets = 2)
    def v1(e: Model.ChangeEvent) = e.copy(schema_ver = 1)
    def apply(epoch: Long, st: graft.cdc.WriteStrategy, evs: Model.ChangeEvent*): Long = {
      assert(MergeApply.applyBatch(table, batch(evs: _*), epoch, strategy = st).applied)
      table.current.id
    }
    val s0 = table.current.id
    val s1 = apply(0L, MergeOnRead, v1(ev(50, "I", "a", 1, "a1")), v1(ev(60, "I", "b", 2, "b1")),
      v1(ev(70, "I", "c", 3, "c1")), v1(ev(65, "I", "x", 9, "x1")))
    // a late loser, a same-lsn re-emission, a late winner with an old lsn,
    // and a tombstone for a key first seen in the window
    val s2 = apply(1L, MergeOnRead, v1(ev(40, "U", "a", 1, "a-late-loses")),
      v1(ev(60, "I", "b", 2, "b1")), v1(ev(5, "I", "d", 4, "d-late-wins")), v1(ev(80, "D", "e", 5, "")))
    val s3 = apply(2L, MergeOnRead, ev(90, "U", "c", 3, "c2").copy(tool = Some("t"))) // v1 → v2
    assert(table.compact(maxFilesPerBucket = 0).applied)
    val s4 = table.current.id
    val s5 = apply(3L, MergeOnRead, ev(100, "U", "a", 1, "a2"))
    val s6 = apply(4L, CopyOnWrite, ev(110, "U", "b", 2, "b2"), ev(120, "D", "x", 9, ""))
    val s7 = apply(5L, MergeOnRead, ev(130, "U", "d", 4, "d2"))
    assert(table.snapshotIds == Seq(s0, s1, s2, s3, s4, s5, s6, s7))

    def appendOnly(from: Snapshot, to: Snapshot): Boolean = {
      val bs = table.changedBuckets(from, to)
      from.files.filter(f => bs(f.bucket)).map(_.path).toSet.subsetOf(to.files.map(_.path).toSet)
    }
    // the reference: both sides LWW-resolved and diffed by a full outer
    // join on the key, in driver memory
    def reference(from: Snapshot, to: Snapshot): Set[Seq[Any]] = {
      val bs = Some(table.changedBuckets(from, to))
      def winners(s: Snapshot) = table.readResolved(s, bs).collect()
        .map(r => (r.getAs[String]("conv_id"), r.getAs[Any]("turn_idx").toString) -> r).toMap
      val (f, t) = (winners(from), winners(to))
      val cols = table.registry(to.schemaVer).fieldNames.toSeq
      val changed = t.collect {
        case (k, r) if !f.get(k).exists(_.getAs[Long]("_lsn") == r.getAs[Long]("_lsn")) =>
          cols.map(r.getAs[Any]) :+ (if (r.getAs[Boolean]("_deleted")) "DELETE" else "UPSERT")
      }
      val vanished = f.collect { case (k, r) if !t.contains(k) && !r.getAs[Boolean]("_deleted") =>
        cols.map(c => if (table.keyCols.contains(c)) r.getAs[Any](c) else null) :+ "DELETE"
      }
      (changed ++ vanished).toSet
    }
    def window(fromId: Long, toId: Long) =
      table.readChangesSince(fromId, toId).collect().map(_.toSeq).toSet

    // (from, to, append-only): every per-snapshot window, an empty one, a
    // multi-epoch one across the schema bump, and the two that hold a
    // compaction and a copy-on-write epoch
    Seq((s0, s1, true), (s1, s2, true), (s2, s3, true), (s3, s4, false), (s4, s5, true),
      (s5, s6, false), (s6, s7, true), (s1, s1, true), (s1, s3, true), (s3, s5, false),
      (s5, s7, false)).foreach { case (a, b, append) =>
        val (from, to) = (table.snapshot(a), table.snapshot(b))
        assert(appendOnly(from, to) == append, s"window ($a, $b]")
        assert(window(a, b) == reference(from, to), s"window ($a, $b]")
      }
    assert(window(s1, s1).isEmpty)
    assert(window(s1, s2).map(r => (r(0), r(1), r(3), r.last)) ==
      Set(("d", 4, "d-late-wins", "UPSERT"), ("e", 5, null, "DELETE")))
    assert(window(s2, s3).map(r => (r(0), r(3), r(4), r.last)) == Set(("c", "c2", "t", "UPSERT")))
  }

  test("changedBuckets prunes to exactly the touched buckets") {
    val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 16)
    MergeApply.applyBatch(table, batch(
      (0 until 32).map(i => ev(i + 1L, "I", s"conv-$i", 0, s"t$i")): _*), 0L)
    val from = table.current
    // second batch touches only conv-0's bucket
    MergeApply.applyBatch(table, batch(ev(100, "U", "conv-0", 0, "t0v2")), 1L)
    val to = table.current
    val expected = Set(MergeApply.bucketOf(lit("conv-0"), 16))
      .map(c => spark.range(1).select(c).collect()(0).getInt(0))
    assert(table.changedBuckets(from, to) == expected)
  }
}
