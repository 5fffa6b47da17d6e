package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the one place the scale-critical
  * physical-plan properties are pinned (broadcast dimensions, partial
  * aggregates, pushed filters, equi-joined candidate generation, a pair
  * expansion with no self-join), so a source change cannot silently
  * deoptimize a plan while its results stay correct (a config-driven
  * validation rewrite once wrapped the p6 filter in a non-convertible
  * coalesce and lost parquet pushdown). Most catalog checks build the
  * plan only, so they cost plan compilation, not I/O; the few that need
  * the executed plan run at sf0.001, and the lake-table checks build
  * their own small tables.
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
    val p = plan("j1_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
    // and the aggregate is partial before its shuffle ("HashAggregate"
    // alone would also match the final aggregate)
    assert(p.contains("partial_"), p)
  }

  test("j5: the dedup is a real anti-join, no cartesian") {
    val p = plan("j5_anti_join_dedup")
    assert(p.contains("LeftAnti") && !p.contains("CartesianProduct"))
  }

  /** The scalar-threshold queries are one lazy plan: building the
    * DataFrame runs no query job (a driver-side `.head` probe would run
    * one, a second scan and scheduling round per query at scale). Spark
    * runs a small footer/schema job per `read.parquet` ("parquet at …");
    * that is table-open cost for any plan shape and is not counted.
    */
  test("j5, j6: building the query runs no job beyond parquet table opens") {
    Seq("j5_anti_join_dedup", "j6_anti_probe").foreach { name =>
      val (_, seen) = JobProbe.during(spark)(SparkEntry.queries(name)(spark, dir))
      val probes = seen.jobs.flatMap(_.stageInfos.map(_.name)).filterNot(_.startsWith("parquet at"))
      assert(probes.isEmpty && seen.plans.isEmpty, s"$name ran $probes")
    }
  }

  /** Similarity and near-duplicate candidates join on a bucket, band or
    * cell key, never all pairs. At this scale the planner broadcasts the
    * small side, so a join that lost its equi-key plans as a broadcast
    * nested loop join rather than a cartesian product: both are ruled out.
    */
  test("d3, sim2, d5: candidate joins are equi-joins, no cartesian or nested-loop join") {
    Seq("d3_simhash", "sim2_lsh_ann", "d5_embedding_dup").foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name:\n$p")
    }
  }

  test("st1: the windowed event count is partial before its shuffle") {
    assert(plan("st1_window_agg").contains("partial_count"))
  }

  test("p1: the unpivot is one Expand over the input") {
    assert(plan("p1_melt_unpivot").contains("Expand"))
  }

  /** The materialized-pair aggregate expands pairs with array generators
    * after a per-order collect, not a self-join. Its three shuffles are
    * the per-order collect, the spread of oversized orders and the
    * per-pair count; the static plan prints the shared collect once per
    * branch, so it holds 4 `Exchange` headers. Data with no order over
    * the chunk size leaves the spread branch empty, and AQE's
    * empty-relation propagation removes it at runtime: the final plan
    * holds no `Union` and 2 hash exchanges.
    */
  test("candidatePairs: generator pair expansion, no self-join; " +
      "the oversized-order branch is dropped at runtime") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val df = graft.analytics.MaterializedPairs.candidatePairs(li)
    val p = df.queryExecution.explainString(FormattedMode)
    assert(!p.contains("Join") && p.contains("Generate"), p)
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 4, p)
    df.collect() // executes this QueryExecution, so AQE finalizes its plan
    // the adaptive plan prints "== Final Plan ==" and then the initial plan
    val finalPlan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!finalPlan.contains("Union"), finalPlan)
    assert("Exchange hashpartitioning".r.findAllIn(finalPlan).size == 2, finalPlan)
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
    val (table, from) = oneKeyWindow(graft.cdc.WriteStrategy.CopyOnWrite)
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

  /** A 16-bucket table of 64 keys, then one commit under `strategy` that
    * upserts `conv-0`: the table and the snapshot before that commit.
    */
  private def oneKeyWindow(strategy: graft.cdc.WriteStrategy) = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-shape-chg-").toString
    val table = graft.lake.LakeTable.create(spark, root, schemaVer = 2, numBuckets = 16)
    val ts = new java.sql.Timestamp(1704067200000L)
    def ev(lsn: Long, conv: String) = graft.model.Model.ChangeEvent(
      lsn, "I", 2, conv, 0, Some("user"), Some(s"t$lsn"), None, Some(ts))
    graft.cdc.MergeApply.applyBatch(table,
      spark.createDataset((0 until 64).map(i => ev(i + 1L, s"conv-$i"))).toDF(), 0L)
    val from = table.current
    graft.cdc.MergeApply.applyBatch(table, spark.createDataset(Seq(ev(100L, "conv-0"))).toDF(), 1L,
      strategy = strategy)
    (table, from)
  }

  /** A window in which no file of the changed buckets left the table (one
    * merge-on-read epoch) is read from the files it added plus a (keys,
    * `_lsn`) read of `from`'s files in those buckets, in one aggregate: no
    * join, one exchange, and no payload column read on the `from` side.
    */
  test("cdc_changes_since, append-only window: added files plus a (keys, _lsn) " +
      "read of from, one exchange, no join") {
    val (table, from) = oneKeyWindow(graft.cdc.WriteStrategy.MergeOnRead)
    val to = table.current
    val changed = table.changedBuckets(from, to)
    def uris(fs: Seq[graft.lake.FileEntry]) =
      fs.map(f => new org.apache.hadoop.fs.Path(f.path).toUri.toString).toSet
    val fromFiles = uris(from.files.filter(f => changed(f.bucket)))
    val added = uris(to.files) -- uris(from.files)
    assert(changed.size == 1 && added.size == 1)
    val df = table.readChangesSince(from.id)
    assert(df.inputFiles.toSet == fromFiles ++ added)
    val p = df.queryExecution.explainString(FormattedMode)
    assert("""\(\d+\) \w*(Join|CartesianProduct)""".r.findAllIn(p).isEmpty, p)
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1, p)
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).map(_.trim).toSeq
    assert(schemas.contains("ReadSchema: struct<conv_id:string,turn_idx:int,_lsn:bigint>"), schemas)
    assert(df.count() == 1L)
  }

  /** MergeApply's merge-mode gate probes which keys are live. On buckets
    * that carry merge-on-read deltas the probe resolves per key, and the
    * resolve must carry only the keys, `_lsn` and `_deleted`: no payload
    * column is scanned.
    */
  test("liveKeys: an InsertOnly merge-on-read batch scans no payload column of the table") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.lake.LakeTable
    import graft.cdc.{MergeApply, MergeMode, WriteStrategy}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-shape-live-").toString
    val table = LakeTable.create(spark, root, schemaVer = 2, numBuckets = 4)
    val ts = new java.sql.Timestamp(1704067200000L)
    def batch(lsn0: Long, n: Int) = spark.createDataset((0 until n).map(i =>
      graft.model.Model.ChangeEvent(lsn0 + i, "I", 2, s"conv-$i", 0, Some("user"), Some(s"t$i"),
        None, Some(ts)))).toDF()
    MergeApply.applyBatch(table, batch(1L, 32), 0L)
    MergeApply.applyBatch(table, batch(100L, 32), 1L, strategy = WriteStrategy.MergeOnRead)
    assert(table.current.files.map(_.bucket).distinct.size == 4)
    val (st, seen) = JobProbe.during(spark)(MergeApply.applyBatch(table, batch(200L, 64), 2L,
      mode = MergeMode.InsertOnly, strategy = WriteStrategy.MergeOnRead))
    assert(st.applied)
    val read = seen.plans.flatMap(JobProbe.collect(_) {
      case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSet
    })
    assert(read.nonEmpty)
    read.foreach(cols => assert(cols.subsetOf(Set("conv_id", "turn_idx", "_lsn", "_deleted")), cols))
  }

  test("j3: the semi filter join is a broadcast left-semi; the fact side is not shuffled for it") {
    val p = plan("j3_semi_filter_join")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"))
  }

  test("st2: lag, running sum and group-agg ride a single user_id shuffle") {
    assert("hashpartitioning\\(user_id".r.findAllIn(plan("st2_sessionize")).size == 1)
  }

  /** IVF: the only cross join is the vectors against the K broadcast
    * centroids; probe→candidate expansion is an equi-join on cell id.
    * Planned with size-based broadcasting off: a filter does not shrink
    * Spark's size estimate, so at scale the centroids are estimated at the
    * embedding table's size, and only the query's own hint broadcasts them.
    */
  test("sim3: the query broadcasts the centroids, no unbroadcast cartesian") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val p = try plan("sim3_ivf_ann") finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
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

  test("q1: the executed plan runs in whole-stage codegen") {
    val df = SparkEntry.queries("q1_agg")(spark, dir)
    df.collect() // executes this plan; count() would wrap a new one
    // AQE's pre-execution formatted plan hides codegen stages, so check the
    // executed one: "WholeStageCodegen (n)" or "*(n) Operator" markers
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("WholeStageCodegen") || executed.contains("*("), executed)
  }
}
