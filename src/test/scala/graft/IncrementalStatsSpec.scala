package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.IncrementalStats

/** T5 invariants: MERGE-ADDed sufficient statistics over any batch split
  * equal the one-shot aggregate over the union (the reference's
  * reconciliation rule restated for the incremental path), and the epoch
  * fence makes replayed stat batches no-ops (no double counting — the
  * failure mode incremental aggregation exists to prevent).
  */
class IncrementalStatsSpec extends AnyFunSuite {

  lazy val spark = Sessions.local(8, appName = "stats-spec")

  private def obs(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      val g = s"g${i % 7}"
      val theta = math.sin(i * 0.37) * 3.0
      (g, theta, 1.0 / (1.0 + theta * theta), i.toLong)
    }.toDF("group_key", "theta", "w", "id")
  }

  private def stateOf(table: graft.lake.LakeTable): Map[String, (Long, Double, Double)] =
    table.read().collect()
      .map(r => r.getAs[String]("group_key") ->
        ((r.getAs[Long]("k"), r.getAs[Double]("s1"), r.getAs[Double]("st")))).toMap

  test("incremental over k batches equals one-shot over the union") {
    val data = obs(5000)
    val oneShot = IncrementalStats.deltas(data).collect()
      .map(r => r.getAs[String]("group_key") ->
        ((r.getAs[Long]("k"), r.getAs[Double]("s1"), r.getAs[Double]("st")))).toMap
    // three different batch splits, all must converge to the same state
    Seq(2, 5, 9).foreach { nBatches =>
      val root = Files.createTempDirectory("graft-stats-spec-").toString
      val table = IncrementalStats.createTable(spark, root, numBuckets = 4)
      (0 until nBatches).foreach { b =>
        IncrementalStats.applyBatch(table,
          IncrementalStats.deltas(data.filter(pmod(col("id"), lit(nBatches)) === b)), b.toLong)
      }
      val inc = stateOf(table)
      assert(inc.keySet == oneShot.keySet)
      inc.foreach { case (g, (k, s1, st)) =>
        val (k0, s10, st0) = oneShot(g)
        assert(k == k0, s"$g count")
        assert(math.abs(s1 - s10) < 1e-9, s"$g s1")
        assert(math.abs(st - st0) < 1e-9, s"$g st")
      }
    }
  }

  test("epoch fence: replaying a stat batch does not double-count") {
    val data = obs(1000)
    val root = Files.createTempDirectory("graft-stats-fence-").toString
    val table = IncrementalStats.createTable(spark, root, numBuckets = 4)
    val d0 = IncrementalStats.deltas(data.filter(col("id") < 500))
    val d1 = IncrementalStats.deltas(data.filter(col("id") >= 500))
    assert(IncrementalStats.applyBatch(table, d0, 0L))
    assert(IncrementalStats.applyBatch(table, d1, 1L))
    val after = stateOf(table)
    assert(!IncrementalStats.applyBatch(table, d1, 1L)) // replay fenced
    assert(!IncrementalStats.applyBatch(table, d0, 0L)) // stale fenced
    assert(stateOf(table) == after)
    val total = after.values.map(_._1).sum
    assert(total == 1000L)
  }

  test("fresh-checkpoint restart: new writer is not silently fenced, " +
      "re-delivered batch content does not double-add") {
    val data = obs(1200)
    val root = Files.createTempDirectory("graft-stats-writer-").toString
    val table = IncrementalStats.createTable(spark, root, numBuckets = 4)
    val dA = IncrementalStats.deltas(data.filter(col("id") < 600))
    val dB = IncrementalStats.deltas(data.filter(col("id") >= 600))
    // writer w1 applies A at epoch 0, B at epoch 1
    assert(IncrementalStats.applyBatch(table, dA, 0L, writerId = "w1"))
    assert(IncrementalStats.applyBatch(table, dB, 1L, writerId = "w1"))
    val after = stateOf(table)
    assert(after.values.map(_._1).sum == 1200L)
    // crash; stream restarts with a FRESH checkpoint: new writerId, epochs
    // restart at 0. Its batch 0 re-delivers B's content — the writer-scoped
    // fence admits the new writer (no silent data loss) but the content
    // hash catches the re-delivery (no double-add: merge-ADD is not
    // idempotent).
    assert(!IncrementalStats.applyBatch(table, dB, 0L, writerId = "w2"))
    assert(stateOf(table) == after)
    // the new writer's batch 1 carries genuinely NEW observations — it must
    // apply even though its epoch (1) is not above w1's watermark scope
    val extra = {
      import spark.implicits._
      Seq(("g-new", 2.5, 1.0 / (1.0 + 2.5 * 2.5), 9999L))
        .toDF("group_key", "theta", "w", "id")
    }
    assert(IncrementalStats.applyBatch(table, IncrementalStats.deltas(extra), 1L, writerId = "w2"))
    val finalState = stateOf(table)
    assert(finalState.values.map(_._1).sum == 1201L)
    assert(finalState.contains("g-new"))
    // and w1's own watermark survives w2's commits (per-writer map, not a
    // last-writer-only pair): a late w1 replay of epoch 1 is still fenced
    assert(!IncrementalStats.applyBatch(table, dB, 1L, writerId = "w1"))
    assert(stateOf(table) == finalState)
  }

  test("established writer: a genuinely NEW batch with identical content is " +
      "applied, not hash-fenced (the fence is scoped to the checkpoint-swap window)") {
    val root = Files.createTempDirectory("graft-stats-samecontent-").toString
    val table = IncrementalStats.createTable(spark, root, numBuckets = 4)
    import spark.implicits._
    // two DISTINCT observation batches that happen to carry byte-identical
    // rows (same sensor emitting the same reading twice) — for an
    // established writer the epoch fence governs, and both must count
    val sameContent = Seq(("g0", 1.0, 0.5, 1L)).toDF("group_key", "theta", "w", "id")
    assert(IncrementalStats.applyBatch(table, IncrementalStats.deltas(sameContent), 0L, writerId = "w1"))
    assert(IncrementalStats.applyBatch(table, IncrementalStats.deltas(sameContent), 1L, writerId = "w1"))
    assert(stateOf(table)("g0")._1 == 2L, "identical-content batch from an established writer was dropped")
  }

  test("a delta without _hsum is refused before anything is committed") {
    val root = Files.createTempDirectory("graft-stats-nohsum-").toString
    val table = IncrementalStats.createTable(spark, root, numBuckets = 4)
    assert(IncrementalStats.applyBatch(table, IncrementalStats.deltas(obs(100)), 0L))
    val before = table.current.id
    val bare = IncrementalStats.deltas(obs(100)).drop("_hsum")
    intercept[IllegalArgumentException](IncrementalStats.applyBatch(table, bare, 1L))
    assert(table.current.id == before)
  }

  test("streaming ingest: fresh-checkpoint re-delivery is hash-fenced, " +
      "new files still apply (end-to-end exactly-once)") {
    val data = obs(800)
    val srcDir = Files.createTempDirectory("graft-stats-src-").toString
    graft.cdc.StreamFiles.writeFlat(data.filter(col("id") < 400), srcDir, "f0")
    graft.cdc.StreamFiles.writeFlat(data.filter(col("id") >= 400), srcDir, "f1")
    val root = Files.createTempDirectory("graft-stats-stream-").toString
    val table = IncrementalStats.createTable(spark, root, numBuckets = 4)
    val ckptA = Files.createTempDirectory("graft-stats-ckptA-").toString
    IncrementalStats.streamAvailable(spark, table, srcDir, ckptA, data.schema)
    val after = stateOf(table)
    assert(after.values.map(_._1).sum == 800L)
    // checkpoint lost; a FRESH checkpoint re-reads the whole directory —
    // every re-delivered batch must be content-hash fenced, not double-added
    val ckptB = Files.createTempDirectory("graft-stats-ckptB-").toString
    IncrementalStats.streamAvailable(spark, table, srcDir, ckptB, data.schema)
    assert(stateOf(table) == after)
    // new observations arriving later must still flow through checkpoint B
    import spark.implicits._
    graft.cdc.StreamFiles.writeFlat(
      Seq(("g-stream", 1.5, 0.4, 9000L)).toDF("group_key", "theta", "w", "id"), srcDir, "f2")
    IncrementalStats.streamAvailable(spark, table, srcDir, ckptB, data.schema)
    val finalState = stateOf(table)
    assert(finalState.values.map(_._1).sum == 801L)
    assert(finalState.contains("g-stream"))
  }

  test("derived pooled view matches direct computation") {
    val data = obs(2000)
    val root = Files.createTempDirectory("graft-stats-derive-").toString
    val table = IncrementalStats.createTable(spark, root, numBuckets = 4)
    IncrementalStats.applyBatch(table, IncrementalStats.deltas(data), 0L)
    val derived = IncrementalStats.derive(table.read())
    val direct = IncrementalStats.derive(
      IncrementalStats.deltas(data).withColumnRenamed("group", "group_key"))
    assert(derived.orderBy("event_type").collect().toSeq ==
      direct.orderBy("event_type").collect().toSeq)
  }
}
