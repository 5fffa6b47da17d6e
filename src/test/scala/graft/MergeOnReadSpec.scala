package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{MergeApply, WriteStrategy}
import graft.gen.ChangeGen
import graft.gen.ChangeGen.GenConfig
import graft.lake.{FileEntry, LakeTable}

/** Merge-on-read write strategy: delta appends must produce the same
  * LWW final state as copy-on-write, deltas must fold back to base files
  * under compaction, and the two strategies must interleave on one table.
  */
class MergeOnReadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(8, appName = "mor-spec")

  private def tmp(): String = Files.createTempDirectory("graft-mor-").toString

  private def finalState(table: LakeTable): Seq[(String, Long, String, String, Option[String])] = {
    import spark.implicits._
    table.read()
      .orderBy("conv_id", "turn_idx")
      .select($"conv_id", $"turn_idx".cast("long"), $"role", $"text",
        if (table.read().columns.contains("tool")) $"tool"
        else org.apache.spark.sql.functions.lit(null).cast("string").as("tool"))
      .as[(String, Long, String, String, Option[String])]
      .collect().toSeq
  }

  private def oracleState(cfg: GenConfig): Seq[(String, Long, String, String, Option[String])] = {
    val events = (0L until cfg.totalRows).map(i => ChangeGen.rowAt(cfg, i))
    ChangeGen.oracleFold(events).toSeq
      .sortBy { case ((c, t), _) => (c, t) }
      .map { case ((c, t), turn) => (c, t, turn.role, turn.text, turn.tool) }
  }

  private def replay(table: LakeTable, cfg: GenConfig, batches: Int,
      strategyOf: Int => WriteStrategy): Unit = {
    import spark.implicits._
    val all = ChangeGen.emittedEvents(spark, cfg).collect() // emission order, bounded OOO
    val per = (all.length + batches - 1) / batches
    all.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      val st = MergeApply.applyBatch(table, spark.createDataset(chunk.toSeq).toDF(),
        epochId = i.toLong, strategy = strategyOf(i))
      assert(st.applied)
    }
  }

  test("pure merge-on-read replay equals the oracle; commits never read the table") {
    val cfg = GenConfig(numConvs = 40, maxTurns = 15, numEvents = 3000)
    val root = tmp()
    val table = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 8)
    replay(table, cfg, batches = 4, _ => WriteStrategy.MergeOnRead)
    // every data file is an appended delta — no bucket was ever rewritten
    assert(table.current.files.nonEmpty)
    assert(table.current.files.forall(_.kind == FileEntry.Delta))
    // manifest row count is UNKNOWN with unresolved deltas (may shadow)
    assert(table.current.rows == -1L)
    // the read path resolves the delta stack to the exact LWW fold
    assert(finalState(table) == oracleState(cfg))
  }

  test("foldDeltas compaction restores base files and exact row accounting") {
    val cfg = GenConfig(numConvs = 30, maxTurns = 12, numEvents = 2000)
    val root = tmp()
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 8)
    replay(table, cfg, batches = 3, _ => WriteStrategy.MergeOnRead)
    val res = table.compact(foldDeltas = true)
    assert(res.applied)
    assert(table.current.files.forall(_.kind == FileEntry.Base))
    // one resolved version per key → manifest live count is exact again
    assert(table.current.rows == table.read().count())
    assert(finalState(table) == oracleState(cfg))
    // idempotent: nothing left to fold
    assert(!table.compact(foldDeltas = true).applied)
  }

  test("interleaved copy-on-write and merge-on-read batches converge") {
    val cfg = GenConfig(numConvs = 40, maxTurns = 15, numEvents = 3000)
    val root = tmp()
    val table = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 8)
    // MoR, CoW, MoR, CoW: each CoW batch rewrites its touched buckets and
    // resolves any earlier deltas living there
    replay(table, cfg, batches = 4,
      i => if (i % 2 == 0) WriteStrategy.MergeOnRead else WriteStrategy.CopyOnWrite)
    assert(finalState(table) == oracleState(cfg))
  }

  test("merge-on-read replay is epoch-fenced like copy-on-write") {
    import spark.implicits._
    val cfg = GenConfig(numConvs = 10, maxTurns = 10, numEvents = 500)
    val root = tmp()
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4)
    val df = ChangeGen.events(spark, cfg).toDF()
    val first = MergeApply.applyBatch(table, df, epochId = 5, strategy = WriteStrategy.MergeOnRead)
    assert(first.applied)
    val nFiles = table.current.files.size
    val replayed = MergeApply.applyBatch(table, df, epochId = 5, strategy = WriteStrategy.MergeOnRead)
    assert(!replayed.applied)
    assert(table.current.files.size == nFiles) // no duplicate delta stack
    assert(finalState(table) == oracleState(cfg))
  }

  test("compaction resolves inside its one bucket exchange: 2 jobs, one shuffle, one file per bucket, LWW rows") {
    val cfg = GenConfig(numConvs = 40, maxTurns = 12, numEvents = 3000)
    val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 12)
    replay(table, cfg, batches = 3, _ => WriteStrategy.MergeOnRead)
    // the LWW fold with tombstone winners kept: (conv, turn) -> (lsn, deleted)
    val fold = (0L until cfg.totalRows).map(ChangeGen.rowAt(cfg, _))
      .groupBy(e => (e.conv_id, e.turn_idx.toLong)).map { case (k, es) =>
        val w = es.maxBy(_.lsn)
        k -> ((w.lsn, w.op == "D"))
      }
    assert(fold.values.exists(_._2), "the generator should leave tombstone winners")
    def stored(): Map[(String, Long), (Long, Boolean)] =
      table.readConformed(table.current, None)
        .select("conv_id", "turn_idx", "_lsn", "_deleted").collect()
        .map(r => (r.getString(0), r.get(1).asInstanceOf[Number].longValue()) ->
          ((r.getLong(2), r.getBoolean(3)))).toMap
    val fat = table.current.files.map(_.bucket).toSet
    assert(fat.size == 12)

    val partsKey = "spark.sql.shuffle.partitions"
    val prevParts = spark.conf.get(partsKey)
    spark.conf.set(partsKey, "4") // fewer write tasks than buckets to compact
    val (res, seen) =
      try JobProbe.during(spark)(table.compact(foldDeltas = true))
      finally spark.conf.set(partsKey, prevParts)
    assert(res.applied)
    assert(seen.jobs.size == 2, s"compaction ran ${seen.jobs.size} jobs")
    assert(JobProbe.resultTasks(seen.jobs.maxBy(_.jobId)) == 4)
    val writePlans = JobProbe.writePlans(seen)
    assert(writePlans.size == 1)
    assert(JobProbe.shuffles(writePlans.head).size == 1, writePlans.head.toString)
    val files = table.current.files
    assert(files.forall(_.kind == FileEntry.Base))
    assert(files.groupBy(_.bucket).values.forall(_.size == 1))
    assert(files.map(_.bucket).toSet == fat)
    // the 12 buckets are dealt evenly over the 4 write tasks
    val task = "part-(\\d+)-".r.unanchored
    assert(files.groupBy(f => task.findFirstMatchIn(f.path).map(_.group(1))).values
      .map(_.size).toSeq == Seq(3, 3, 3, 3))
    assert(stored() == fold)
    assert(finalState(table) == oracleState(cfg))

    // dropping old tombstones: rows equal the fold minus tombstones below
    // the cut; every bucket is rewritten (more than 0 files each)
    val cut = fold.values.filter(_._2).map(_._1).toSeq.sorted.apply(fold.values.count(_._2) / 2)
    assert(table.compact(maxFilesPerBucket = 0, dropTombstonesBelowLsn = cut).applied)
    assert(stored() == fold.filter { case (_, (lsn, del)) => !del || lsn >= cut })
    assert(table.current.files.groupBy(_.bucket).values.forall(_.size == 1))
    assert(finalState(table) == oracleState(cfg))
  }

  test("every merge resolves inside its one bucket exchange: copy-on-write, merge-on-read and salted write plans run one shuffle and one sort") {
    val cfg = GenConfig(numConvs = 40, maxTurns = 12, numEvents = 3000)
    import spark.implicits._
    val all = ChangeGen.emittedEvents(spark, cfg).collect()
    val (first, second) = all.splitAt(all.length / 2)
    def probe(strategy: WriteStrategy, saltRowThreshold: Long): Unit = {
      val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 8)
      assert(MergeApply.applyBatch(table, spark.createDataset(first.toSeq).toDF(), 0L).applied)
      val (st, seen) = JobProbe.during(spark)(MergeApply.applyBatch(table,
        spark.createDataset(second.toSeq).toDF(), 1L, saltFactor = 4,
        saltRowThreshold = saltRowThreshold, strategy = strategy))
      assert(st.applied)
      val write = JobProbe.writePlans(seen)
      assert(write.size == 1, s"$strategy: ${write.size} write plans")
      assert(JobProbe.shuffles(write.head).size == 1, write.head.toString)
      assert(JobProbe.sorts(write.head).size == 1, write.head.toString)
      if (saltRowThreshold == 0L) // salted: some bucket spread over write tasks
        assert(table.current.files.groupBy(_.bucket).values.exists(_.size > 1))
      assert(finalState(table) == oracleState(cfg))
    }
    probe(WriteStrategy.CopyOnWrite, saltRowThreshold = 4000000L)
    probe(WriteStrategy.MergeOnRead, saltRowThreshold = 4000000L)
    probe(WriteStrategy.CopyOnWrite, saltRowThreshold = 0L)
  }

  test("copy-on-write and merge-on-read count the same deduped keys for one batch over one table") {
    val cfg = GenConfig(numConvs = 40, maxTurns = 12, numEvents = 3000)
    import spark.implicits._
    val all = ChangeGen.emittedEvents(spark, cfg).collect()
    val (first, second) = all.splitAt(all.length / 2)
    val batchKeys = second.map(e => (e.conv_id, e.turn_idx)).distinct.length.toLong
    val deduped = Seq(WriteStrategy.CopyOnWrite, WriteStrategy.MergeOnRead).map { strategy =>
      val table = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 8)
      assert(MergeApply.applyBatch(table, spark.createDataset(first.toSeq).toDF(), 0L).applied)
      val st = MergeApply.applyBatch(table, spark.createDataset(second.toSeq).toDF(), 1L,
        strategy = strategy)
      assert(st.applied)
      // a copy-on-write rewrite writes the touched buckets' every row,
      // more than the batch's keys
      if (strategy == WriteStrategy.CopyOnWrite) assert(st.observedRows > batchKeys)
      st.dedupedKeys
    }
    assert(deduped == Seq(batchKeys, batchKeys))
  }
}
