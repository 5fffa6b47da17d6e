package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.MergeApply
import graft.gen.ChangeGen
import graft.gen.ChangeGen.GenConfig
import graft.lake.LakeTable
import graft.model.Model

class MergeApplySpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(8, appName = "merge-spec")

  private def tmp(): String = Files.createTempDirectory("graft-lake-").toString

  private def finalState(table: LakeTable): Seq[(String, Long, String, String, Option[String])] = {
    import spark.implicits._
    table.read()
      .orderBy("conv_id", "turn_idx")
      .select($"conv_id", $"turn_idx".cast("long"), $"role", $"text",
        if (table.read().columns.contains("tool")) $"tool" else org.apache.spark.sql.functions.lit(null).cast("string").as("tool"))
      .as[(String, Long, String, String, Option[String])]
      .collect().toSeq
  }

  private def oracleState(cfg: GenConfig): Seq[(String, Long, String, String, Option[String])] = {
    val events = (0L until cfg.totalRows).map(i => ChangeGen.rowAt(cfg, i))
    ChangeGen.oracleFold(events).toSeq
      .sortBy { case ((c, t), _) => (c, t) }
      .map { case ((c, t), turn) => (c, t, turn.role, turn.text, turn.tool) }
  }

  test("single-batch replay equals the naive fold oracle") {
    val cfg = GenConfig(numConvs = 50, maxTurns = 20, numEvents = 4000)
    val root = tmp()
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 16)
    val stats = MergeApply.applyBatch(table, ChangeGen.events(spark, cfg).toDF(), epochId = 0)
    assert(stats.applied)
    assert(finalState(table) == oracleState(cfg))
    assert(table.current.rows == table.read().count())
  }

  test("multi-batch replay (ordered chunks) equals the oracle") {
    val cfg = GenConfig(numConvs = 40, maxTurns = 15, numEvents = 3000)
    val root = tmp()
    val table = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 8)
    val all = ChangeGen.emittedEvents(spark, cfg).collect() // emission order, bounded OOO
    val chunks = all.grouped(700).toSeq
    import spark.implicits._
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val st = MergeApply.applyBatch(table, spark.createDataset(chunk.toSeq).toDF(), epochId = i.toLong)
      assert(st.applied)
    }
    // schema must have evolved to v2 (tail events carry schema_ver=2)
    assert(table.current.schemaVer == 2)
    assert(finalState(table) == oracleState(cfg))
  }

  test("epoch fence: replaying a committed batch is a no-op") {
    val cfg = GenConfig(numConvs = 10, maxTurns = 10, numEvents = 500)
    val root = tmp()
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4)
    val df = ChangeGen.events(spark, cfg).toDF()
    val first = MergeApply.applyBatch(table, df, epochId = 7)
    assert(first.applied)
    val snapBefore = table.current.id
    val replay = MergeApply.applyBatch(table, df, epochId = 7)
    assert(!replay.applied)
    assert(table.current.id == snapBefore)
    val stale = MergeApply.applyBatch(table, df, epochId = 3)
    assert(!stale.applied)
    assert(finalState(table) == oracleState(cfg))
  }

  test("cross-batch out-of-order: late lower-LSN events lose (incl. vs tombstones)") {
    import spark.implicits._
    val root = tmp()
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4)
    val ts = new java.sql.Timestamp(1704067200000L)
    def ev(lsn: Long, op: String, conv: String, turn: Int, text: String) =
      Model.ChangeEvent(lsn, op, 2, conv, turn,
        if (op == "D") None else Some("user"),
        if (op == "D") None else Some(text), None,
        if (op == "D") None else Some(ts))
    // batch 0: high-LSN update for (a,1); delete for (b,2)
    MergeApply.applyBatch(table, spark.createDataset(Seq(
      ev(100, "U", "a", 1, "new"), ev(200, "D", "b", 2, ""))).toDF(), 0)
    // batch 1 (late, lower LSNs): stale write to (a,1); resurrect attempt on (b,2)
    MergeApply.applyBatch(table, spark.createDataset(Seq(
      ev(50, "U", "a", 1, "stale"), ev(150, "I", "b", 2, "zombie"))).toDF(), 1)
    val rows = table.read().orderBy("conv_id", "turn_idx")
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect().toSeq
    assert(rows == Seq(("a", 1, "new")))
  }

  test("hot-key skew: one conversation carrying ~90% of the batch salts " +
      "the write and still resolves exact LWW") {
    import spark.implicits._
    val root = tmp()
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4)
    val ts = new java.sql.Timestamp(1704067200000L)
    def ev(lsn: Long, conv: String, turn: Int, text: String) =
      Model.ChangeEvent(lsn, "U", 2, conv, turn, Some("user"), Some(text), None, Some(ts))
    // hot conversation: 9000 events over 10 turns (LSNs interleaved so the
    // winner is NOT the last emitted); 10 cold conversations with 10 each
    val hot = (0 until 9000).map(i => ev(i * 7L % 9001, "hot", i % 10, s"h-${i * 7L % 9001}"))
    val cold = for (c <- 0 until 10; t <- 0 until 10)
      yield ev(100000L + c * 10 + t, s"cold-$c", t, s"c-$c-$t")
    val batch = spark.createDataset(scala.util.Random.shuffle(hot ++ cold)).toDF()
    // force the salted path regardless of volume heuristics
    val st = MergeApply.applyBatch(table, batch, epochId = 0,
      saltFactor = 4, saltRowThreshold = 0L)
    assert(st.applied)
    // exact LWW oracle, computed naively
    val want = ((hot ++ cold).groupBy(e => (e.conv_id, e.turn_idx))
      .map { case (k, es) => k -> es.maxBy(_.lsn).text.get }).toSeq.sortBy(_._1)
    val got = table.read().orderBy("conv_id", "turn_idx")
      .select($"conv_id", $"turn_idx", $"text").as[(String, Int, String)]
      .collect().toSeq.map { case (c, t, x) => ((c, t), x) }
    assert(got == want)
    // the hot bucket's resolved rows were spread across >1 salted file
    val hotBucket = table.current.files.groupBy(_.bucket).values.map(_.size).max
    assert(hotBucket > 1, s"expected salted multi-file hot bucket, files/bucket=$hotBucket")
  }

  test("compaction preserves state and shrinks file count") {
    val cfg = GenConfig(numConvs = 20, maxTurns = 10, numEvents = 2000)
    val root = tmp()
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4)
    import spark.implicits._
    val all = ChangeGen.events(spark, cfg).collect()
    all.grouped(250).zipWithIndex.foreach { case (chunk, i) =>
      // saltRowThreshold=0 forces the salted multi-file write path so
      // compaction has small files to bin-pack
      MergeApply.applyBatch(table, spark.createDataset(chunk.toSeq).toDF(), i.toLong,
        saltFactor = 4, saltRowThreshold = 0L)
    }
    val before = finalState(table)
    val filesBefore = table.current.files.size
    val res = table.compact(maxFilesPerBucket = 2)
    assert(res.applied)
    assert(table.current.files.size < filesBefore)
    assert(finalState(table) == before)
    // expiry keeps the table readable and GCs orphans
    table.expireSnapshots(keepLast = 1, orphanGraceMs = 0L)
    assert(finalState(table) == before)
    // EMPTIED commit directories are reclaimed too (one dir accrues per
    // writeDataFiles call — without cleanup the data/ tree and every
    // later expiry's recursive listing grow without bound); only dirs
    // still holding live files survive
    val liveDirs = table.current.files
      .map(f => new org.apache.hadoop.fs.Path(f.path).getParent.getParent.getName).toSet
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(root, "data"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(onDisk == liveDirs,
      s"graveyard dirs survived expiry: ${(onDisk -- liveDirs).take(3)}")
  }

  test("writer identity lives in the checkpoint: stable across restarts, " +
      "fresh after a wipe (no inherited epoch watermark)") {
    val cp = tmp() + "/cp"
    val a = graft.cdc.CdcStream.writerIdOf(cp)
    assert(graft.cdc.CdcStream.writerIdOf(cp) == a) // restart, same checkpoint
    val fs = new org.apache.hadoop.fs.Path(cp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(cp), true) // corruption recovery wipe
    val b = graft.cdc.CdcStream.writerIdOf(cp)
    // the re-created checkpoint restarts epochs at 0 — inheriting the old
    // identity would fence its first epochs under the old watermark
    assert(b != a)
  }

  test("writer id: a checkpoint without an id file mints a fresh one, persisted and stable") {
    val cp = tmp() + "/cp"
    val id = graft.cdc.CdcStream.writerIdOf(cp)
    assert(id.startsWith("w-"))
    assert(graft.cdc.CdcStream.writerIdOf(cp) == id) // persisted, stable
    assert(graft.cdc.CdcStream.writerIdOf(tmp() + "/cp2") != id)
  }

  test("schema v3 widening: turn_idx int32→int64, old files conform on read") {
    import spark.implicits._
    val root = tmp()
    val table = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 4)
    val ts = new java.sql.Timestamp(1704067200000L)
    def ev(lsn: Long, ver: Int, conv: String, turn: Int, text: String) =
      Model.ChangeEvent(lsn, "I", ver, conv, turn, Some("user"), Some(text), None, Some(ts))
    // v1 batch, then a v3 batch triggers the widening evolution
    MergeApply.applyBatch(table, spark.createDataset(Seq(
      ev(1, 1, "a", 1, "one"), ev(2, 1, "b", 2, "two"))).toDF(), 0)
    assert(table.current.schemaVer == 1)
    MergeApply.applyBatch(table, spark.createDataset(Seq(
      ev(3, 3, "c", 3, "three"))).toDF(), 1)
    assert(table.current.schemaVer == 3)
    val out = table.read()
    assert(out.schema("turn_idx").dataType == org.apache.spark.sql.types.LongType)
    assert(out.schema.fieldNames.contains("tool")) // v2 column present too
    val rows = out.orderBy("conv_id").select($"conv_id", $"turn_idx", $"text")
      .as[(String, Long, String)].collect().toSeq
    assert(rows == Seq(("a", 1L, "one"), ("b", 2L, "two"), ("c", 3L, "three")))
  }

  test("schema v4/v5 rename + drop: old files and old wire names conform on read") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    // v4 renames tool -> tool_name (atop v3's widened turn_idx);
    // v5 drops role entirely
    val v4 = StructType(Seq(
      StructField("conv_id", StringType, nullable = false),
      StructField("turn_idx", LongType, nullable = false),
      StructField("role", StringType),
      StructField("text", StringType),
      StructField("tool_name", StringType),
      StructField("ts", TimestampType)))
    val v5 = StructType(v4.fields.filterNot(_.name == "role"))
    val registry = Model.schemaRegistry ++ Map(4 -> v4, 5 -> v5)
    val renames = Map(4 -> Map("tool" -> "tool_name"))
    val root = tmp()
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4,
      registry = registry, renames = renames)
    val ts = new java.sql.Timestamp(1704067200000L)
    def ev(lsn: Long, ver: Int, conv: String, turn: Int, text: String, tool: Option[String]) =
      Model.ChangeEvent(lsn, "I", ver, conv, turn, Some("user"), Some(text), tool, Some(ts))

    // v2 files carry `tool` under its ORIGINAL name
    MergeApply.applyBatch(table, spark.createDataset(Seq(
      ev(1, 2, "a", 1, "one", Some("calc")),
      ev(2, 2, "b", 1, "two", None))).toDF(), 0)
    assert(table.current.schemaVer == 2)

    // a v4 batch from an OLD producer: the wire still says `tool`, the
    // alias chain must land it in `tool_name`
    MergeApply.applyBatch(table, spark.createDataset(Seq(
      ev(3, 4, "c", 1, "three", Some("search")))).toDF(), 1)
    assert(table.current.schemaVer == 4)
    val atV4 = table.read()
    assert(atV4.schema.fieldNames.contains("tool_name") &&
      !atV4.schema.fieldNames.contains("tool"))
    val gotV4 = atV4.orderBy("conv_id")
      .select($"conv_id", $"tool_name").as[(String, Option[String])].collect().toSeq
    assert(gotV4 == Seq(("a", Some("calc")), ("b", None), ("c", Some("search"))))

    // a v5 batch drops `role`: reads project it away; tool_name survives
    MergeApply.applyBatch(table, spark.createDataset(Seq(
      ev(4, 5, "d", 1, "four", Some("browse")))).toDF(), 2)
    assert(table.current.schemaVer == 5)
    val atV5 = table.read()
    assert(!atV5.schema.fieldNames.contains("role"))
    val gotV5 = atV5.orderBy("conv_id")
      .select($"conv_id", $"turn_idx", $"text", $"tool_name")
      .as[(String, Long, String, Option[String])].collect().toSeq
    assert(gotV5 == Seq(("a", 1L, "one", Some("calc")), ("b", 1L, "two", None),
      ("c", 1L, "three", Some("search")), ("d", 1L, "four", Some("browse"))))

    // replay equality across the boundary: a fresh table replaying the
    // same batches in one go reaches the same final state
    val table2 = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 4,
      registry = registry, renames = renames)
    MergeApply.applyBatch(table2, spark.createDataset(Seq(
      ev(1, 2, "a", 1, "one", Some("calc")),
      ev(2, 2, "b", 1, "two", None),
      ev(3, 4, "c", 1, "three", Some("search")),
      ev(4, 5, "d", 1, "four", Some("browse")))).toDF(), 0)
    val gotOneShot = table2.read().orderBy("conv_id")
      .select($"conv_id", $"turn_idx", $"text", $"tool_name")
      .as[(String, Long, String, Option[String])].collect().toSeq
    assert(gotOneShot == gotV5)
  }

  test("merge modes: insert-only / update-only gate the matched arm (M4)") {
    import spark.implicits._
    import graft.cdc.MergeMode
    val ts = new java.sql.Timestamp(1704067200000L)
    def ev(lsn: Long, op: String, conv: String, turn: Int, text: String) =
      Model.ChangeEvent(lsn, op, 2, conv, turn,
        if (op == "D") None else Some("user"),
        if (op == "D") None else Some(text), None,
        if (op == "D") None else Some(ts))
    def mk(): LakeTable = {
      val t = LakeTable.create(spark, tmp(), schemaVer = 2, numBuckets = 4)
      MergeApply.applyBatch(t, spark.createDataset(Seq(
        ev(1, "I", "a", 1, "a1-v1"), ev(2, "I", "b", 1, "b1-v1"))).toDF(), 0)
      t
    }
    def state(t: LakeTable) = t.read().orderBy("conv_id", "turn_idx")
      .select($"conv_id", $"turn_idx", $"text").as[(String, Int, String)].collect().toSeq

    // UPSERT (control): update applies, new key inserts, delete applies
    val up = mk()
    MergeApply.applyBatch(up, spark.createDataset(Seq(
      ev(10, "U", "a", 1, "a1-v2"), ev(11, "I", "c", 1, "c1-v1"), ev(12, "D", "b", 1, ""))).toDF(),
      1, mode = MergeMode.Upsert)
    assert(state(up) == Seq(("a", 1, "a1-v2"), ("c", 1, "c1-v1")))

    // INSERT_ONLY: matched key untouched, new key inserts, delete dropped
    val ins = mk()
    MergeApply.applyBatch(ins, spark.createDataset(Seq(
      ev(10, "U", "a", 1, "a1-v2"), ev(11, "I", "c", 1, "c1-v1"), ev(12, "D", "b", 1, ""))).toDF(),
      1, mode = MergeMode.InsertOnly)
    assert(state(ins) == Seq(("a", 1, "a1-v1"), ("b", 1, "b1-v1"), ("c", 1, "c1-v1")))

    // UPDATE_ONLY: matched key updates + matched delete applies, new key dropped
    val upd = mk()
    MergeApply.applyBatch(upd, spark.createDataset(Seq(
      ev(10, "U", "a", 1, "a1-v2"), ev(11, "I", "c", 1, "c1-v1"), ev(12, "D", "b", 1, ""))).toDF(),
      1, mode = MergeMode.UpdateOnly)
    assert(state(upd) == Seq(("a", 1, "a1-v2")))
  }

  test("deterministic across parallelism: local generator slice equality") {
    val cfg = GenConfig(numEvents = 1000)
    val a = (0L until cfg.totalRows).map(i => ChangeGen.rowAt(cfg, i))
    val b = ChangeGen.events(spark, cfg).collect().sortBy(_.lsn)
    assert(a.sortBy(_.lsn) == b.toSeq)
  }
}
