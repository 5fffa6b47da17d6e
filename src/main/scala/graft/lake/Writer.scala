package graft.lake

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The data-file writer: the one resolve into the bucket layout, and new
  * files whose manifest entries the write pass itself counted. Hides the
  * file layout under `data/` and the file↔stats-entry bijection.
  */
private[graft] object Writer {

  /** Write `df` (public-schema cols + `_lsn` + `_deleted` + `_bucket`) as
    * new data files, returning the manifest entries. Files are split by
    * `_bucket` via dynamic partitioning; within a task rows are written
    * sorted by (conv_id, turn_idx) so turn-ordered reads stay fast and
    * parquet min/max stats stay tight (north rule: sort-order maintenance).
    *
    * Every entry's stats (rows, live rows, key range) ride THE WRITE PASS
    * ITSELF: a [[graft.functions.FileStatsAgg]] keyed by `(write partition
    * id, bucket)` is hung on the write plan via `Dataset.observe`, so the
    * entries exist the moment the write job finishes — no extra Spark job,
    * no footer read. The key maps 1:1 onto output files because dynamic
    * partitioning writes one `part-<pid>` file per bucket a task holds, and
    * `maxRecordsPerFile` is pinned to 0 so a task never splits a bucket.
    * Speculative execution could run two successful attempts of one task
    * and double-count the observation, so it is refused; Spark launches no
    * speculative tasks in `local[n]` anyway. If the listed files and the
    * stats entries still fail to match one to one, the write throws
    * [[IllegalStateException]] before anything is committed: the caller's
    * retry re-runs the epoch and orphan GC reclaims the files.
    */
  def writeDataFiles(t: LakeTable, df: DataFrame, schemaVer: Int, kind: String): Seq[FileEntry] = {
    require(!t.spark.sparkContext.getConf.getBoolean("spark.speculation", false),
      "spark.speculation=true is not supported: a speculative write task would " +
        "double-count the write-pass file stats")
    val dir = new Path(new Path(t.root, "data"),
      s"c${System.currentTimeMillis()}-${java.util.UUID.randomUUID.toString.take(8)}")
    val obs = org.apache.spark.sql.Observation(
      s"graft-filestats-${java.util.UUID.randomUUID.toString.take(8)}")
    // The key project is NONDETERMINISTIC (spark_partition_id), so the
    // optimizer cannot push it below the exchange the caller's repartition
    // planted — pids seen here are the write task's.
    val keyed = df.withColumn("_fskey",
      spark_partition_id().cast(LongType) * lit(FileKeySpan) + col("_bucket").cast(LongType))
    // Register the aggregate in the OBSERVED DataFrame's session: under
    // foreachBatch the batch df belongs to a CLONED session with its own
    // function registry, and a merge-on-read plan derives purely from the
    // batch side — registering in the table's outer session would leave
    // the clone's analyzer unable to resolve the function.
    val observed = keyed.observe(obs,
      graft.functions.FileStatsAgg.column(keyed.sparkSession, col("_fskey"),
        col(t.keyCols.head).cast(StringType), not(coalesce(col("_deleted"), lit(false)))).as("fs"))
      .drop("_fskey")
    graft.cdc.MergeApply.timed("merge-write-files")(
      observed.sortWithinPartitions("_bucket", t.keyCols: _*)
        .write.partitionBy("_bucket").option("maxRecordsPerFile", 0L)
        .mode("overwrite").parquet(dir.toString))
    graft.cdc.MergeApply.timed("file-stats")(statsFromWrite(t, dir, schemaVer, kind, obs))
  }

  /** `part-NNNNN-` write-task prefix of every Spark output file name. */
  private val partFileRe = "^part-(\\d+)-".r.unanchored

  /** Stats-key stride: key = pid * span + bucket. Buckets are Int, so a
    * 2^32 span can never collide across pids.
    */
  private val FileKeySpan = 1L << 32

  /** Manifest entries from the write-pass [[graft.functions.FileStatsAgg]]
    * observation: map each listed file back to its `(pid, bucket)` stats
    * key via the `part-NNNNN` task index in its name. Throws unless
    * files↔entries is a bijection — every file resolves a distinct key and
    * the counts match exactly.
    */
  private def statsFromWrite(t: LakeTable, dir: Path, schemaVer: Int, kind: String,
      obs: org.apache.spark.sql.Observation): Seq[FileEntry] = {
    val stats = obs.get("fs").asInstanceOf[collection.Map[Long, org.apache.spark.sql.Row]]
    val found = listDataFiles(t, dir)
    def mismatch(why: String) =
      new IllegalStateException(s"write-pass stats do not match the files under $dir: $why")
    if (found.size != stats.size) throw mismatch(s"${found.size} files vs ${stats.size} stats entries")
    val keyed = found.map { case (p, bucket, len) =>
      val pid = partFileRe.findFirstMatchIn(p.getName).map(_.group(1).toLong)
        .getOrElse(throw mismatch(s"${p.getName} has no task index"))
      val key = pid * FileKeySpan + bucket
      val s = stats.getOrElse(key, throw mismatch(s"no stats entry for ${p.getName}"))
      val range = if (s.isNullAt(2)) None else Some(FileStats(s.getString(2), s.getString(3)))
      key -> FileEntry(p.toString, bucket, schemaVer, s.getLong(0), s.getLong(1), kind, range, len)
    }
    if (keyed.map(_._1).distinct.size != keyed.size) throw mismatch("two files share a stats key")
    keyed.map(_._2)
  }

  /** All parquet data files under a commit directory as (file, bucket,
    * byte length). The length goes into the manifest, so reads plan
    * without listing. On
    * `file:` the engine's sessions bind [[NioLocalFileSystem]], so this
    * listing forks no process per entry.
    */
  private def listDataFiles(t: LakeTable, dir: Path): Seq[(Path, Int, Long)] = {
    val fsys = t.fs
    if (!fsys.exists(dir)) return Nil
    val found = mutable.ArrayBuffer[(Path, Int, Long)]()
    val it = fsys.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      val parent = p.getParent.getName
      if (p.getName.endsWith(".parquet") && parent.startsWith("_bucket="))
        found += ((p, parent.stripPrefix("_bucket=").toInt, st.getLen))
    }
    found.toSeq
  }

  /** The one LWW resolve of every rewrite — either merge, [[Maintenance.compact]]
    * and [[Maintenance.rebucket]] — INSIDE the bucket exchange its write needs:
    * write partition `p` goes to task `p mod parts`, then a max-LSN groupBy on
    * `(_bucket, keys…)` that the exchange already clusters (the partition
    * is a function of the key), so there is no second shuffle and the
    * aggregate's sort is the write's. The partition is the bucket (one
    * file per bucket), or with `salt` > 1 `bucket·salt + hash(keys) mod
    * salt`, grouped last so the sort stays `(_bucket, keys…)`. By id, not
    * hash: 16 buckets hash onto 4 tasks as 6/4/3/3, the modulo deals them
    * evenly. `maxCols` ride along as their max per key. Output: physical
    * columns at `schemaVer`, `_bucket` and `maxCols`, for [[writeDataFiles]];
    * routing is the merge path's own bucket transform.
    */
  def resolveIntoBuckets(t: LakeTable, rows: DataFrame, schemaVer: Int, numBuckets: Int,
      parts: Int, salt: Int = 1, maxCols: Seq[String] = Nil): DataFrame = {
    val keyCols = t.keyCols
    val cols = t.physicalSchema(schemaVer).fieldNames.toSeq
    val bucketed = rows.withColumn("_bucket",
      graft.cdc.MergeApply.bucketOf(col(keyCols.head), numBuckets))
    val (keyed, saltKey) =
      if (salt <= 1) (bucketed, Nil)
      else (bucketed.withColumn("_part", (col("_bucket") * salt +
        pmod(xxhash64(keyCols.map(col): _*), lit(salt.toLong))).cast(IntegerType)), Seq("_part"))
    keyed.repartitionById(parts, col(saltKey.headOption.getOrElse("_bucket")))
      .groupBy((("_bucket" +: keyCols) ++ saltKey).map(col): _*)
      .agg(max_by(struct(cols.map(col): _*), col("_lsn")).as("r"), maxCols.map(c => max(c).as(c)): _*)
      // key columns straight from the grouping keys: their sort order
      // (the aggregate's) carries through to the write's sort
      .select(cols.map(c => if (keyCols.contains(c)) col(c) else col(s"r.$c").as(c)) ++
        ("_bucket" +: maxCols).map(col): _*)
  }

  /** Write tasks for a rewrite of `buckets` buckets: one per bucket, at
    * most `spark.sql.shuffle.partitions` (the merge write's rule too).
    */
  def writeTasks(spark: SparkSession, buckets: Int): Int =
    math.max(1, math.min(buckets, spark.conf.get("spark.sql.shuffle.partitions", "32").toInt))
}
