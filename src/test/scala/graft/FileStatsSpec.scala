package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{MergeApply, WriteStrategy}
import graft.functions.FileStatsAgg
import graft.gen.ChangeGen
import graft.gen.ChangeGen.GenConfig
import graft.lake.{FileStats, LakeTable}

/** The manifest stats that ride the write pass (FileStatsAgg observation)
  * must equal what the written files hold: per file the same rows, live
  * rows and key range a scan of that file computes, tombstones included,
  * on every path that writes data files.
  */
class FileStatsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(8, appName = "filestats-spec")

  private def tmp(): String = Files.createTempDirectory("graft-fs-").toString

  test("FileStatsAgg equals a groupBy oracle, null keys and UTF8 byte order") {
    import spark.implicits._
    // U+FFFD sorts above U+1D11E in UTF-16 but below it in UTF-8 bytes
    val keys = Seq("conv-a", "élève", "snow☃man", "\uFFFD", "\uD834\uDD1E", "Zed", "")
    val rows = (0 until 10000).map { i =>
      val fk: Option[Long] = if (i % 101 == 0) None else Some(i.toLong % 5)
      val k = if (i % 5 == 3 && i % 13 == 0) None else Some(keys(i % keys.size))
      val alive: Option[Boolean] = if (i % 11 == 0) None else Some(i % 3 == 0)
      (fk, k, alive)
    }
    val df = rows.toDF("fk", "k", "alive").repartition(4)
    val obs = Observation("fsagg-test")
    df.observe(obs, FileStatsAgg.column(spark, col("fk"), col("k"), col("alive")).as("fs")).count()
    val got = obs.get("fs").asInstanceOf[collection.Map[Long, org.apache.spark.sql.Row]]
      .map { case (fk, r) => fk -> ((r.getLong(0), r.getLong(1), Option(r.getString(2)), Option(r.getString(3)))) }
      .toMap
    val hasNullKey = max(col("k").isNull)
    val want = df.filter(col("fk").isNotNull).groupBy("fk")
      .agg(count(lit(1)), sum(when(col("alive"), 1L).otherwise(0L)),
        when(hasNullKey, lit(null)).otherwise(min("k")),
        when(hasNullKey, lit(null)).otherwise(max("k")))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.getString(3)), Option(r.getString(4))))).toMap
    assert(got == want)
    assert(got(3L)._3.isEmpty, "the group holding null keys must have unknown bounds")
    assert(got.size == 5)
    assert((got - 3L).values.forall(_._4.contains("\uD834\uDD1E")), "max must follow UTF8 byte order")
  }

  /** Manifest rows / live / key range of every current file against a
    * scan of that file.
    */
  private def assertStatsMatchFiles(t: LakeTable, what: String): Unit = {
    val files = t.current.files
    assert(files.nonEmpty, what)
    val want = spark.read.schema("conv_id string, _deleted boolean")
      .parquet(files.map(_.path): _*)
      .groupBy(input_file_name())
      .agg(count(lit(1)), sum(when(col("_deleted"), 0L).otherwise(1L)),
        min("conv_id"), max("conv_id"))
      .collect().map(r => new Path(new java.net.URI(r.getString(0))).toString ->
        ((r.getLong(1), r.getLong(2), Some(FileStats(r.getString(3), r.getString(4)))))).toMap
    assert(files.map(f => f.path -> ((f.rows, f.live, f.stats))).toMap == want, what)
  }

  test("manifest stats equal a scan of each file: CoW, MoR, compact, rebucket") {
    val cfg = GenConfig(numConvs = 60, maxTurns = 12, numEvents = 4000)
    def batch(seed: Long) = ChangeGen.events(spark, cfg.copy(seed = seed)).toDF()
    assert(batch(1).filter(col("op") === "D").count() > 0, "fixture must contain deletes")
    val table = LakeTable.create(spark, tmp(), schemaVer = 1, numBuckets = 8)

    assert(MergeApply.applyBatch(table, batch(1), epochId = 0).applied)
    assert(MergeApply.applyBatch(table, batch(2), epochId = 1).applied)
    assert(table.current.files.exists(f => f.live < f.rows), "fixture must write tombstones")
    assertStatsMatchFiles(table, "copy-on-write")

    assert(MergeApply.applyBatch(table, batch(3), epochId = 2,
      strategy = WriteStrategy.MergeOnRead).applied)
    assert(table.current.files.exists(_.kind == "delta"))
    assertStatsMatchFiles(table, "merge-on-read")

    assert(table.compact(foldDeltas = true).applied)
    assert(table.current.files.forall(_.kind == "base"))
    assertStatsMatchFiles(table, "compact")

    assert(table.rebucket(16).applied)
    assertStatsMatchFiles(table, "rebucket")
    assert(table.current.files.exists(f => f.live < f.rows), "tombstones must survive the rewrites")
  }

  test("a session maxRecordsPerFile does not split a bucket's file") {
    val table = LakeTable.create(spark, tmp(), schemaVer = 1, numBuckets = 4)
    val batch = ChangeGen.events(spark, GenConfig(numConvs = 40, maxTurns = 8, numEvents = 2000)).toDF()
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "10")
    try assert(MergeApply.applyBatch(table, batch, epochId = 0).applied)
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert(table.current.files.exists(_.rows > 10))
    assertStatsMatchFiles(table, "maxRecordsPerFile")
  }

  test("written data files carry no write-only _live column") {
    val table = LakeTable.create(spark, tmp(), schemaVer = 1, numBuckets = 4)
    val batch = ChangeGen.events(spark, GenConfig(numConvs = 20, maxTurns = 4, numEvents = 300)).toDF()
    assert(MergeApply.applyBatch(table, batch, epochId = 0).applied)
    table.current.files.foreach { f =>
      val cols = spark.read.parquet(f.path).schema.fieldNames
      assert(cols.contains("_deleted") && !cols.contains("_live"), s"${f.path}: ${cols.mkString(",")}")
    }
  }
}
