package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{AdditiveMerge, IncrementalStats}
import graft.cdc.Scd2History
import graft.cdc.Scd2History.Scd2Config
import graft.lake.{Commit, LakeTable, Snapshot}

/** The one fence decision, [[Commit.alreadyApplied]]: the writer's epoch
  * watermark decides first, and the content hash decides only for a
  * writer that has no watermark yet. The non-idempotent kernels ask it
  * before they write any data file.
  */
class FenceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4, appName = "fence-spec")

  private val hash = 42L
  private val epoch = 5L

  private def snap(watermark: Option[Long], hashInWindow: Boolean): Snapshot =
    Snapshot(3L, 2L, 4L, 1, 4, 0L, -1L, Nil, writerId = "w",
      writerEpochs = watermark.map("w" -> _).toMap ++ Map("other" -> 100L),
      batchHashes = if (hashInWindow) Seq(7L, hash) else Seq(7L))

  test("decision table: watermark below / at / above the epoch x hash in / not in " +
      "the window x writer with / without a watermark") {
    // (the writer's watermark, the hash is in the window, fenced?)
    val table = Seq(
      (Some(epoch - 1), true, false), // an established writer: the hash is never consulted
      (Some(epoch - 1), false, false),
      (Some(epoch), true, true),
      (Some(epoch), false, true),
      (Some(epoch + 1), true, true),
      (Some(epoch + 1), false, true),
      (None, true, true), // no watermark yet: the hash alone decides
      (None, false, false))
    table.foreach { case (watermark, inWindow, want) =>
      val s = snap(watermark, inWindow)
      assert(Commit.alreadyApplied(s, epoch, "w", Some(hash)) == want,
        s"watermark=$watermark hashInWindow=$inWindow")
      // without a content hash only the watermark can fence
      assert(Commit.alreadyApplied(s, epoch, "w") == watermark.exists(_ >= epoch),
        s"no hash: watermark=$watermark")
    }
    // another writer's watermark fences nobody else, and an epoch-less
    // (maintenance) commit is never epoch-fenced
    assert(!Commit.alreadyApplied(snap(None, hashInWindow = false), 0L, "w"))
    assert(!Commit.alreadyApplied(snap(Some(epoch + 1), hashInWindow = true), -1L, "w", Some(hash)))
  }

  private def dataDirs(root: String): Set[String] =
    Option(new java.io.File(root, "data").list()).map(_.toSet).getOrElse(Set.empty)

  test("AdditiveMerge fences a fresh writer's re-delivered batch before writing any data file") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-fence-add-").toString
    val table = IncrementalStats.createTable(spark, root, numBuckets = 4)
    val obs = (0 until 40).map(i => (s"g${i % 5}", i * 0.1, 1.0, i.toLong))
      .toDF("group_key", "theta", "w", "id")
    def apply(epochId: Long, writer: String) = AdditiveMerge(table, IncrementalStats.deltas(obs),
      epochId, writer, LakeTable.batchContentHashFromSums(col("_hsum")))
    assert(apply(0L, "w1"))
    val dirs = dataDirs(root)
    val before = table.current
    assert(!apply(0L, "w2"), "a fresh writer's redelivery must be hash-fenced")
    assert(dataDirs(root) == dirs, "the fenced batch wrote data files")
    assert(table.current == before)
  }

  test("Scd2History fences a fresh writer's re-delivered batch before writing any data file") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-fence-scd2-").toString
    val cfg = Scd2Config(Seq("user_id"), Seq("event_type"), "event_id")
    val batch = (1 to 30).map(i => (s"k${i % 4}", s"s${i % 3}", i.toLong))
      .toDF("user_id", "event_type", "event_id")
    val table = Scd2History.createTable(spark, root, cfg, batch.schema, numBuckets = 4)
    assert(Scd2History.applyBatch(table, cfg, batch, 0L, writerId = "w1"))
    val dirs = dataDirs(root)
    val before = table.current
    assert(!Scd2History.applyBatch(table, cfg, batch, 0L, writerId = "w2"),
      "a fresh writer's redelivery must be hash-fenced")
    assert(dataDirs(root) == dirs, "the fenced batch wrote data files")
    assert(table.current == before)
  }
}
