package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.MergeApply
import graft.gen.ChangeGen
import graft.gen.ChangeGen.GenConfig
import graft.lake.{FileEntry, LakeTable}
import graft.model.Model

/** Bucket-count evolution: `LakeTable.rebucket` — the lifecycle operation
  * that takes a table sized small at creation to the bucket count its
  * grown volume needs, preserving exact state and LWW semantics, and
  * regrouping the manifest list under the new bucket count.
  */
class RebucketSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(8, appName = "rebucket-spec")

  private def tmp(): String = Files.createTempDirectory("graft-rebucket-").toString

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

  private def state(table: LakeTable): Set[Seq[Any]] =
    table.read().collect().map(_.toSeq).toSet.asInstanceOf[Set[Seq[Any]]]

  test("rebucket preserves state exactly and keeps tombstone LWW: a late " +
      "lower-LSN event still loses after the rewrite") {
    val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 4)
    MergeApply.applyBatch(table, batch(
      (0 until 40).map(i => ev(i + 1L, "I", s"conv-$i", 0, s"t$i")) :+
        ev(100, "D", "conv-7", 0, ""): _*), 0L)
    val before = state(table)
    assert(table.rebucket(32).applied)
    assert(table.current.numBuckets == 32)
    assert(state(table) == before)
    // every file routed by the NEW transform
    table.current.files.foreach(f => assert(f.bucket < 32))
    // the tombstone survived the rewrite: a late lower-LSN resurrect loses
    MergeApply.applyBatch(table, batch(ev(50, "I", "conv-7", 0, "zombie")), 1L)
    assert(!state(table).exists(_.head == "conv-7"))
  }

  test("rebucket resolves inside its one bucket exchange: one shuffle, one file per bucket") {
    val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 4)
    MergeApply.applyBatch(table, batch((0 until 60).map(i =>
      ev(i + 1L, "I", s"conv-$i", 0, s"t$i")): _*), 0L,
      strategy = graft.cdc.WriteStrategy.MergeOnRead)
    MergeApply.applyBatch(table, batch((0 until 60 by 3).map(i =>
      ev(100L + i, if (i % 2 == 0) "D" else "U", s"conv-$i", 0, s"u$i")): _*), 1L,
      strategy = graft.cdc.WriteStrategy.MergeOnRead)
    val before = state(table)
    val (res, seen) = JobProbe.during(spark)(table.rebucket(6))
    assert(res.applied)
    assert(seen.jobs.size == 2, s"rebucket ran ${seen.jobs.size} jobs")
    val write = JobProbe.writePlans(seen)
    assert(write.size == 1 && JobProbe.shuffles(write.head).size == 1, write.toString)
    assert(table.current.files.groupBy(_.bucket).values.forall(_.size == 1))
    assert(state(table) == before)
  }

  test("merging continues correctly after rebucket: generated replay " +
      "across the boundary equals the naive LWW oracle") {
    import spark.implicits._
    val cfg = GenConfig(numConvs = 30, maxTurns = 15, numEvents = 1500)
    val table = LakeTable.create(spark, tmp(), schemaVer = 1, numBuckets = 4)
    val per = cfg.totalRows / 3
    MergeApply.applyBatch(table, ChangeGen.eventSlice(spark, cfg, 0, per).toDF(), 0L)
    assert(table.rebucket(16).applied)
    (1 until 3).foreach { b =>
      MergeApply.applyBatch(table, ChangeGen.eventSlice(spark, cfg, b * per,
        math.min(cfg.totalRows, (b + 1) * per)).toDF(), b.toLong)
    }
    val got = table.read().orderBy("conv_id", "turn_idx")
      .select($"conv_id", $"turn_idx".cast("int"), $"text")
      .as[(String, Int, String)].collect().toSeq
    val events = (0L until cfg.totalRows).map(i => ChangeGen.rowAt(cfg, i))
    val oracle = ChangeGen.oracleFold(events).toSeq
      .sortBy { case ((c, t), _) => (c, t) }
      .map { case ((c, t), turn) => (c, t.toInt, turn.text) }
    assert(got == oracle)
  }

  test("rebucket regroups: 16, 256, 8 buckets hold 1, 4, 1 group manifests") {
    val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 16)
    MergeApply.applyBatch(table, batch(
      (0 until 64).map(i => ev(i + 1L, "I", s"conv-$i", 0, s"t$i")): _*), 0L)
    val before = state(table)
    assert(table.current.groupRefs.map(_.g) == Seq(0))
    assert(table.rebucket(256).applied)
    val wide = table.current
    assert(wide.numBuckets == 256 && wide.groupRefs.map(_.g) == Seq(0, 1, 2, 3))
    assert(wide.groupRefs.map(_.n).sum == wide.files.size)
    assert(state(table) == before)
    // one-key commit on 256 buckets rewrites O(1) group manifests
    MergeApply.applyBatch(table, batch(ev(1000, "U", "conv-0", 0, "v2")), 1L)
    val after = table.current
    val changedRefs = after.groupRefs.toSet -- wide.groupRefs.toSet
    assert(changedRefs.size <= 2) // the key's group (± a boundary group)
    val updated = state(table)
    assert(updated.exists(r => r.head == "conv-0" && r.contains("v2")))
    // shrink back to one group, state intact
    assert(table.rebucket(8).applied)
    assert(table.current.numBuckets == 8 && table.current.groupRefs.map(_.g) == Seq(0))
    assert(state(table) == updated)
  }

  test("a commit derived from the pre-rebucket layout conflicts loudly — " +
      "even an append-only one, which otherwise rebases unconditionally") {
    import org.apache.spark.sql.functions.col
    val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 4)
    MergeApply.applyBatch(table, batch(ev(1, "I", "a", 1, "a1")), 0L)
    val base = table.current
    // delta files routed with the OLD (4-bucket) transform, derived from base
    val df = table.readResolved(base, None)
      .withColumn("_bucket", MergeApply.bucketOf(col("conv_id"), 4))
    val files = table.writeDataFiles(df, base.schemaVer, kind = FileEntry.Delta)
    assert(table.rebucket(16).applied) // concurrent layout change wins
    // the append must NOT register old-layout bucket ids into the
    // 16-bucket snapshot (bucket-pruned reads would miss those rows)
    intercept[graft.lake.CommitConflictException] {
      table.commit(files, Set.empty, epochId = 1, schemaVer = base.schemaVer,
        maxLsnSeen = 1L, baseSnapshotId = base.id)
    }
  }

  test("rebucket folds merge-on-read deltas and changelog windows cannot " +
      "span the bucket-count change") {
    val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 4)
    MergeApply.applyBatch(table, batch(ev(1, "I", "a", 1, "a1")), 0L)
    val fromId = table.current.id
    MergeApply.applyBatch(table, batch(ev(2, "U", "a", 1, "a2")), 1L,
      strategy = graft.cdc.WriteStrategy.MergeOnRead)
    assert(table.current.files.exists(_.kind == FileEntry.Delta))
    assert(table.rebucket(8).applied)
    assert(table.current.files.forall(_.kind == FileEntry.Base))
    assert(state(table).exists(_.contains("a2")))
    intercept[IllegalArgumentException] {
      table.readChangesSince(fromId).collect()
    }
  }
}
