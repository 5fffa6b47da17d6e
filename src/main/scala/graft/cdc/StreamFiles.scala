package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Helper for producing change-log files a streaming file source can tail:
  * writes a DataFrame as a single flat parquet FILE (`<dir>/<name>.parquet`)
  * rather than Spark's usual per-write directory, since the file source
  * lists only direct children of the watched directory.
  */
object StreamFiles {
  def writeFlat(df: DataFrame, dir: String, name: String): Unit = {
    val spark = df.sparkSession
    val conf = graft.lake.LakeTable.hadoopConf(spark)
    val tmp = new Path(dir, s".tmp-$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val fs = tmp.getFileSystem(conf)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    val dst = new Path(dir, s"$name.parquet")
    if (!fs.rename(part, dst)) throw new IllegalStateException(s"rename $part -> $dst failed")
    fs.delete(tmp, true)
    ()
  }

  /** Write an ordered stream as ~`nChunks` flat parquet files in emission
    * order WITHOUT collecting to the driver: range-partition on the order
    * columns, sort within each partition, write once, rename the part
    * files (whose lexicographic order is the range order) into
    * `chunk-%04d.parquet` watch order. `payload` names the struct column
    * whose fields become the file schema; the order columns are not
    * written. Returns the number of chunk files produced (range sampling
    * may merge sparse ranges, so it can be < nChunks).
    */
  def writeChunkedOrdered(df: DataFrame, dir: String, nChunks: Int,
      orderCols: Seq[String], payload: String): Int = {
    val spark = df.sparkSession
    val conf = graft.lake.LakeTable.hadoopConf(spark)
    val tmp = new Path(dir, ".tmp-chunks")
    val cols = orderCols.map(df.col)
    df.repartitionByRange(nChunks, cols: _*)
      .sortWithinPartitions(cols: _*)
      .select(s"$payload.*")
      .write.mode("overwrite").parquet(tmp.toString)
    val fs = tmp.getFileSystem(conf)
    val parts = fs.listStatus(tmp).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    parts.zipWithIndex.foreach { case (p, idx) =>
      val dst = new Path(dir, f"chunk-$idx%04d.parquet")
      if (!fs.rename(p, dst)) throw new IllegalStateException(s"rename $p -> $dst failed")
    }
    fs.delete(tmp, true)
    parts.length
  }
}
