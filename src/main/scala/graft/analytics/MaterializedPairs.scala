package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.RelationalQueries.Q
import graft.cdc.MergeApply
import graft.lake.{Commit, LakeTable}

/** Materialized candidate-pair view + refresh job (reference: the ETL
  * spec's candidate-pair materialization and analytics-view refresh procs,
  * Docs/etl_requirements_reviewed_by_sr.md:255,278): j4's theta-self-join
  * pair aggregate persisted as a maintained, snapshot-committed LakeTable
  * instead of being recomputed per query.
  *
  * Refresh semantics, two tiers:
  *   - [[refresh]]: stored-proc-style FULL refresh — recompute the pair
  *     aggregate and atomically replace the view's buckets in one fenced
  *     snapshot commit (readers keep seeing the old snapshot until the
  *     commit lands; a crashed refresh leaves the previous snapshot
  *     intact). The epoch fence makes a replayed refresh a no-op.
  *   - [[refreshIncremental]]: delta-driven merge-ADD — pair counts are
  *     ADDITIVE across fact deltas partitioned by order (a new order
  *     arrives whole), so a delta's pair aggregate folds into the stored
  *     counts touching only the buckets its pairs land in, O(delta pairs +
  *     touched view slice) instead of O(all facts). Merge-ADD is not
  *     idempotent under re-apply, so the fence is the per-writer epoch
  *     watermark PLUS a batch content hash (same protocol as
  *     [[IncrementalStats]]).
  *
  * The stored table keeps UN-thresholded counts (every co-occurring pair,
  * count ≥ 1) precisely so counts stay additive; the HAVING floor is a
  * read-time filter ([[readView]]). A pair crossing the threshold between
  * refreshes surfaces automatically — a write-time floor would have
  * dropped the sub-threshold history an increment needs to add onto.
  *
  * Scale shape: the view is an AGGREGATE (pairs × counts), orders of
  * magnitude smaller than the fact table, so the full-refresh rewrite cost
  * is O(view), not O(facts); the recompute itself is the same one-shuffle
  * self-join j4 runs, and the incremental path reduces that to the delta.
  */
object MaterializedPairs {

  val pairSchema: StructType = StructType(Seq(
    StructField("p1", LongType, nullable = false),
    StructField("p2", LongType, nullable = false),
    StructField("n_orders", LongType, nullable = false)))

  def createTable(spark: SparkSession, root: String, numBuckets: Int = 8): LakeTable =
    LakeTable.create(spark, root, schemaVer = 1, numBuckets = numBuckets,
      registry = Map(1 -> pairSchema), keyCols = Seq("p1", "p2"))

  /** The candidate-pair aggregate (j4's shape): co-occurring part pairs
    * per order with a HAVING floor. Computed WITHOUT a self-join: one
    * shuffle collects each order's distinct part set, then two CHAINED
    * generators emit the C(n,2) ordered pairs — the same pair volume the
    * join would produce but with HALF the shuffle (the join exchanges the
    * fact table twice, this exchanges it once) and no join build side.
    * `collect_set` dedups (order, part) line repeats, so `count(*)` per
    * pair ≡ the join form's `countDistinct(orderkey)`.
    *
    * Degenerate-order safety, two tiers:
    *   - the expansion is STREAMED, never materialized — `posexplode`
    *     emits one row per (anchor, index) and the second generator
    *     explodes a per-anchor `slice` of the set, so peak per-task memory
    *     is O(set size), not O(set²); a transform×transform expansion
    *     would have built all C(n,2) pair structs inside ONE row's array —
    *     an executor OOM no spill can save.
    *   - sets larger than `chunkSize` are additionally SPREAD ACROSS
    *     TASKS: without this a 10⁴-part order's 5·10⁷ pairs (all distinct
    *     within the order) expand AND partially aggregate inside a single
    *     task — one core spilling a 5·10⁷-key hash map serially. The big
    *     path explodes one (order, chunk) row per `ceil(n/chunkSize)`
    *     chunks, shuffles those rows (n²/chunkSize array elements total —
    *     for n=10⁵, ~80 MB; the pair OUTPUT is 5·10⁹ rows either way),
    *     and each chunk expands the anchors with `index % nChunks ==
    *     chunk` — the stride mix gives every chunk the same pair volume,
    *     where contiguous ranges would load chunk 0 with n-1 pairs per
    *     anchor and the last chunk with ~0. The explicit partition count
    *     keeps AQE from coalescing the byte-tiny chunk shuffle back into
    *     one task.
    */
  def candidatePairs(lineitem: DataFrame, minOrders: Long = 2L,
      chunkSize: Int = 1024): DataFrame = {
    val spark = lineitem.sparkSession
    val parts = lineitem.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .withColumn("sz", size(col("ps")))
    // typical orders: narrow, fully pipelined, zero extra data movement
    val small = parts.filter(col("sz") <= chunkSize)
      .select(col("ps"), posexplode(col("ps")).as(Seq("i", "p1")))
      .select(col("p1"),
        explode(slice(col("ps"), col("i") + lit(2), size(col("ps")))).as("p2"))
    val sp = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val big = parts.filter(col("sz") > chunkSize)
      .withColumn("nc", expr(s"int(ceil(sz / $chunkSize.0))"))
      .withColumn("c", explode(expr("sequence(0, nc - 1)")))
      .repartition(sp, col("l_orderkey"), col("c"))
      .select(col("ps"),
        explode(expr("filter(sequence(0, sz - 1), j -> j % nc = c)")).as("i"))
      .select(element_at(col("ps"), col("i") + lit(1)).as("p1"),
        explode(slice(col("ps"), col("i") + lit(2), size(col("ps")))).as("p2"))
    small.unionByName(big)
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= minOrders)
  }

  /** Recompute the view and atomically replace its contents (all buckets)
    * in one fenced snapshot commit. Returns false when fenced.
    */
  def refresh(table: LakeTable, source: DataFrame, epochId: Long,
      writerId: String = ""): Boolean = {
    val cur = table.current
    if (Commit.alreadyApplied(cur, epochId, writerId)) return false
    val b = cur.numBuckets
    val rows = candidatePairs(source, minOrders = 1L) // store raw counts
      .withColumn("_lsn", lit(epochId))
      .withColumn("_deleted", lit(false))
      .withColumn("_bucket", MergeApply.bucketOf(col("p1"), b))
    val files = table.writeDataFiles(
      rows.repartition(math.max(1, math.min(b, 8)), col("_bucket")), schemaVer = 1)
    // full refresh: REPLACE every bucket (stale pairs must vanish)
    table.commit(files, (0 until b).toSet, epochId, schemaVer = 1, maxLsnSeen = epochId,
      writerId = writerId, baseSnapshotId = cur.id).applied
  }

  /** Fold one fact DELTA into the stored counts. The delta must carry
    * whole orders (pair counts are per-order co-occurrence; order-
    * partitioned CDC delivery gives exactly this), so its pair aggregate
    * ADDs onto the stored counts. Copy-on-write touches only buckets whose
    * pairs appear in the delta; exactly-once rides the per-writer fence +
    * batch content hash (ADD is not re-apply idempotent). Returns false
    * when fenced, hash-deduped, or empty.
    */
  def refreshIncremental(table: LakeTable, deltaFacts: DataFrame, epochId: Long,
      writerId: String = ""): Boolean =
    // delegate to the shared exactly-once ADD kernel: fence + content-hash
    // scoping + tombstone guard + -1 live-recount all live in ONE place
    // ([[AdditiveMerge]]); pair counts are exact longs, so the plain
    // column hash is already order-stable (no `_hsum` needed)
    AdditiveMerge(table, candidatePairs(deltaFacts, minOrders = 1L), epochId, writerId,
      LakeTable.batchContentHash(Seq(col("p1"), col("p2"), col("n_orders"))),
      // pair-table commits are small: cap output files well below one per
      // touched bucket (pre-kernel-extraction behavior)
      partitionCap = 8)

  /** The analytics view: stored counts with the HAVING floor applied at
    * read time (write-time thresholding would break count additivity).
    */
  def readView(table: LakeTable, minOrders: Long = 2L): DataFrame =
    table.read().filter(col("n_orders") >= minOrders)

  /** Driver catalog entry: build the materialized pair table from half of
    * lineitem via FULL refresh, fold the other half in via INCREMENTAL
    * refresh, read the thresholded VIEW back — the DuckDB oracle
    * recomputes the aggregate over all of lineitem directly, so both
    * maintenance paths must compose transparently (same rows as computing
    * it fresh).
    */
  private val j4m = Q("j4_materialized_pairs",
    (spark, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-mv-").toString + "/pairs"
      val table = createTable(spark, root)
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      // even orders arrive as the initial full build; odd orders arrive
      // later as a whole-order delta batch
      require(refresh(table, li.filter(col("l_orderkey") % 2 === 0), 0L), "refresh 0 fenced")
      require(refreshIncremental(table, li.filter(col("l_orderkey") % 2 === 1), 1L),
        "incremental refresh fenced")
      readView(table, minOrders = 2L).orderBy("p1", "p2")
    },
    Some("""SELECT a.l_partkey AS p1, b.l_partkey AS p2,
            count(DISTINCT a.l_orderkey) AS n_orders
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2
            ORDER BY p1, p2"""))

  val all: Seq[Q] = Seq(j4m)
}
