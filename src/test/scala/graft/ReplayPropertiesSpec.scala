package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.MergeApply
import graft.gen.ChangeGen
import graft.lake.LakeTable
import graft.model.Model
import graft.model.Model.ChangeEvent

/** ScalaCheck restatement of the reference's reconciliation rules
  * (SURVEY.md §5): for arbitrary event logs,
  *   - streamed (many micro-batches) ≡ batch (one shot) final state
  *   - applying any batch twice changes nothing (idempotency)
  *   - both equal the naive LSN-ordered fold oracle
  */
class ReplayPropertiesSpec extends AnyFunSuite {

  /** Deterministic forAll: sample the generator at fixed seeds (offline
    * cache has no scalatestplus bridge; explicit seeds also make failures
    * reproducible by construction).
    */
  private def forSamples[T](gen: Gen[T], n: Int)(body: T => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  lazy val spark: SparkSession = Sessions.local(8, appName = "replay-props")

  private val ts = new Timestamp(1704067200000L)

  private def genLog: Gen[List[ChangeEvent]] =
    for {
      n <- Gen.choose(20, 80)
      ops <- Gen.listOfN(n, for {
        conv <- Gen.choose(0, 4).map(i => s"c$i")
        turn <- Gen.choose(0, 5)
        op <- Gen.frequency(5 -> "I", 3 -> "U", 2 -> "D")
      } yield (conv, turn, op))
    } yield ops.zipWithIndex.map { case ((conv, turn, op), i) =>
      val lsn = i + 1L
      val del = op == "D"
      ChangeEvent(lsn, op, 1, conv, turn,
        if (del) None else Some("user"),
        if (del) None else Some(s"t$conv-$turn-$lsn"), None,
        if (del) None else Some(ts))
    }

  private def applyAll(events: Seq[ChangeEvent], splits: Int): Seq[(String, Int, String)] = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-prop-").toString
    val table = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 2)
    val per = math.max(1, (events.size + splits - 1) / splits)
    events.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      MergeApply.applyBatch(table, spark.createDataset(chunk.toSeq).toDF(), i.toLong)
    }
    table.read().orderBy("conv_id", "turn_idx")
      .select($"conv_id", $"turn_idx", $"text")
      .as[(String, Int, String)].collect().toSeq
  }

  private def oracle(events: Seq[ChangeEvent]): Seq[(String, Int, String)] =
    ChangeGen.oracleFold(events).toSeq
      .sortBy { case ((c, t), _) => (c, t) }
      .map { case ((c, t), turn) => (c, t.toInt, turn.text) }

  test("property: batch ≡ micro-batched ≡ oracle, for arbitrary logs") {
    forSamples(genLog, 5) { log =>
      val expected = oracle(log)
      assert(applyAll(log, splits = 1) == expected)
      assert(applyAll(log, splits = 4) == expected)
    }
  }

  /** Stats-pruned reads must equal the unpruned read + filter for ANY log
    * — including tombstoned keys, multi-file buckets (4 splits), and
    * merge-on-read delta stacks — on every public column. A wrongly-skipped
    * file loses rows here. `readKey` is checked on both of its paths: the
    * driver's in-memory conform + resolve, and the Spark scan (cap 0).
    */
  test("property: readKey / readKeyRange ≡ filtered full read, CoW and MoR") {
    import graft.cdc.WriteStrategy
    forSamples(genLog, 3) { log =>
      import spark.implicits._
      Seq(WriteStrategy.CopyOnWrite, WriteStrategy.MergeOnRead).foreach { strat =>
        val root = Files.createTempDirectory("graft-propk-").toString
        val table = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 2)
        val per = math.max(1, (log.size + 3) / 4)
        log.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
          MergeApply.applyBatch(table, spark.createDataset(chunk.toSeq).toDF(),
            i.toLong, strategy = strat)
        }
        val full = table.read()
        assertPointReads(table, full, strat.toString)
        assert(rows(table.readKeyRange("c1", "c3")) ==
          rows(full.filter($"conv_id" >= "c1" && $"conv_id" <= "c3")),
          s"readKeyRange drifted under $strat")
      }
    }
  }

  /** The schema evolution of MergeApplySpec's rename/drop test: v4 renames
    * `tool` to `tool_name` (atop v3's widened `turn_idx`), v5 drops `role`.
    */
  private val v4 = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", LongType, nullable = false),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool_name", StringType),
    StructField("ts", TimestampType)))
  private val evolved = Model.schemaRegistry ++ Map(4 -> v4, 5 -> StructType(v4.filterNot(_.name == "role")))
  private val evolvedRenames = Map(4 -> Map("tool" -> "tool_name"))

  /** A log in 4 batches whose writer versions climb from v2 to v5 through
    * random middle steps, so renamed and dropped columns cross batches.
    */
  private def genEvolvingLog: Gen[(List[ChangeEvent], List[Int])] =
    for {
      log <- genLog
      tools <- Gen.listOfN(log.size, Gen.option(Gen.oneOf("calc", "search")))
      mid <- Gen.listOfN(2, Gen.oneOf(2, 4, 5))
    } yield (log.zip(tools).map { case (e, t) => if (e.op == "D") e else e.copy(tool = t) },
      2 +: mid.sorted :+ 5)

  test("property: readKey ≡ filtered full read across v2 → v4 rename → v5 drop, CoW and MoR") {
    import graft.cdc.WriteStrategy
    forSamples(genEvolvingLog, 3) { case (log, vers) =>
      Seq(WriteStrategy.CopyOnWrite, WriteStrategy.MergeOnRead).foreach { strat =>
        val root = Files.createTempDirectory("graft-propv-").toString
        val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 2,
          registry = evolved, renames = evolvedRenames)
        val per = math.max(1, (log.size + 3) / 4)
        log.grouped(per).toSeq.zip(vers).zipWithIndex.foreach { case ((chunk, v), i) =>
          MergeApply.applyBatch(table,
            spark.createDataset(chunk.map(_.copy(schema_ver = v)))(
              org.apache.spark.sql.Encoders.product[ChangeEvent]).toDF(),
            i.toLong, strategy = strat)
        }
        val snap = table.current
        assert(snap.schemaVer == 5)
        if (strat == WriteStrategy.MergeOnRead)
          assert(snap.files.map(_.schemaVer).distinct.size >= 2,
            "fixture must leave files of several writer versions")
        assertPointReads(table, table.read(), s"$strat at versions $vers")
      }
    }
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.orderBy("conv_id", "turn_idx").collect().toSeq

  /** Both `readKey` paths return the filtered full read, row for row and
    * in the same schema, for every key of the generated logs.
    */
  private def assertPointReads(table: LakeTable, full: DataFrame, what: String): Unit =
    (0 to 4).map(i => s"c$i").foreach { k =>
      val want = full.filter(col("conv_id") === k)
      val onDriver = table.readKey(k)
      val onSpark = table.readKey(k, driverCapBytes = 0L)
      assert(onDriver.schema == full.schema && onSpark.schema == full.schema,
        s"readKey($k) schema drifted under $what")
      assert(rows(onDriver) == rows(want), s"readKey($k) on the driver drifted under $what")
      assert(rows(onSpark) == rows(want), s"readKey($k) on Spark drifted under $what")
    }

  test("property: applying the full log twice equals applying once") {
    forSamples(genLog, 3) { log =>
      import spark.implicits._
      val root = Files.createTempDirectory("graft-prop2-").toString
      val table = LakeTable.create(spark, root, schemaVer = 1, numBuckets = 2)
      val df = spark.createDataset(log).toDF()
      MergeApply.applyBatch(table, df, 0L)
      MergeApply.applyBatch(table, df, 1L) // replay at a later epoch
      val got = table.read().orderBy("conv_id", "turn_idx")
        .select($"conv_id", $"turn_idx", $"text")
        .as[(String, Int, String)].collect().toSeq
      assert(got == oracle(log))
    }
  }
}
