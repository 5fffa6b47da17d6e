package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Fast plan-shape regression tests: the scale-critical physical-plan
  * properties `graft.PlanAudit` asserts, pinned in `sbt test` so a source
  * change cannot silently deoptimize a scan between audit runs (the
  * round-4 config-driven validation rewrite did exactly that — wrapped
  * the p6 filter in a non-convertible coalesce and lost parquet pushdown;
  * only the out-of-band audit caught it). The catalog checks are
  * construction-only — no query executes, so they cost plan compilation,
  * not I/O; the lake-table checks build their own small tables.
  */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(8, appName = "planshape-spec")

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(FormattedMode)

  test("p6: the violation filter pushes down to the parquet scan") {
    assert(plan("p6_range_flags").contains("PushedFilters: ["))
  }

  test("j1: both dimensions broadcast in the star join") {
    assert("BroadcastHashJoin".r.findAllIn(plan("j1_star_join")).size >= 2)
  }

  test("j5: the dedup is a real anti-join, no cartesian") {
    val p = plan("j5_anti_join_dedup")
    assert(p.contains("LeftAnti") && !p.contains("CartesianProduct"))
  }

  test("w1: top-k plans as TakeOrderedAndProject, not global sort") {
    assert(plan("w1_ranked_topk").contains("TakeOrderedAndProject"))
  }

  /** Point reads stand on two prunes: manifest file skipping (pinned by
    * FileSkippingSpec on file COUNTS) and the key predicate reaching the
    * parquet scan for row-group pruning INSIDE the kept files — pinned
    * here on the plan text, since a resolve-shape change could silently
    * lift the filter above the scan and still return correct rows. A
    * table this small is read on the driver, so the read takes the Spark
    * scan by a cap of 0, the path every read above the cap takes.
    */
  test("readKey: the key equality predicate pushes down to the parquet scan") {
    import graft.lake.LakeTable
    import graft.cdc.MergeApply
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-shape-").toString
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4)
    val ts = new java.sql.Timestamp(1704067200000L)
    val evs = (0 until 64).map(i => graft.model.Model.ChangeEvent(
      i + 1L, "I", 2, s"conv-$i", 0, Some("user"), Some(s"t$i"), None, Some(ts)))
    MergeApply.applyBatch(table, spark.createDataset(evs).toDF(), 0L)
    val p = table.readKey("conv-7", driverCapBytes = 0L).queryExecution
      .explainString(FormattedMode)
    val pushed = p.linesIterator.find(_.contains("PushedFilters"))
    assert(pushed.isDefined, "no PushedFilters line in the point-read plan")
    assert(pushed.get.contains("EqualTo(conv_id,conv-7)"),
      s"key equality did not reach the scan: ${pushed.get}")
  }

  /** The changelog read (`cdc_changes_since`) diffs only the buckets whose
    * file sets differ between the two snapshots, at both of them, in one
    * full-outer winner join. One commit touching 1 of 16 buckets: the
    * window's scan set (`inputFiles`, planned from the manifest) is that
    * bucket's files, and a second join (the old reverse anti-join) or a
    * cartesian product would show in the plan.
    */
  test("cdc_changes_since: changed-bucket scan, one full-outer join, no cartesian") {
    import graft.lake.LakeTable
    import graft.cdc.MergeApply
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-shape-chg-").toString
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 16)
    val ts = new java.sql.Timestamp(1704067200000L)
    def ev(lsn: Long, conv: String) = graft.model.Model.ChangeEvent(
      lsn, "I", 2, conv, 0, Some("user"), Some(s"t$lsn"), None, Some(ts))
    MergeApply.applyBatch(table, spark.createDataset((0 until 64).map(i => ev(i + 1L, s"conv-$i"))).toDF(), 0L)
    val from = table.current
    MergeApply.applyBatch(table, spark.createDataset(Seq(ev(100L, "conv-0"))).toDF(), 1L)
    val changed = table.changedBuckets(from, table.current)
    val df = table.readChangesSince(from.id)
    val p = df.queryExecution.explainString(FormattedMode)
    val scanned = df.inputFiles.toSeq
      .flatMap("_bucket=(\\d+)".r.findFirstMatchIn(_).map(_.group(1).toInt)).toSet
    assert(scanned.nonEmpty && scanned.subsetOf(changed) && changed.size < 16,
      s"scanned buckets $scanned, changed $changed")
    assert(p.contains("FullOuter"))
    assert("""\(\d+\) \w*(Join|CartesianProduct)""".r.findAllIn(p).size == 1, p)
    assert(!p.contains("CartesianProduct"))
  }

  test("q1: aggregation is partial (map-side combine) with a pruned scan") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"))
    // the ReadSchema line must EXIST (a missing line means the plan format
    // changed and this check would otherwise pass vacuously) and be narrow
    val rs = p.linesIterator.find(_.contains("ReadSchema"))
    assert(rs.isDefined, "no ReadSchema line in the formatted plan")
    assert(rs.get.count(_ == ',') <= 4)
  }
}
