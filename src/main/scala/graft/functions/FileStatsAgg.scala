package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-file manifest stats keyed by a caller-supplied long —
  * `map<long, struct<rows, live, min_key, max_key>>` — as a native
  * Catalyst aggregate.
  *
  * Purpose: manifest FILE STATS FROM THE WRITE PASS ITSELF. Keyed by
  * `(write partition id, bucket)` and hung on the data-file write plan via
  * `Dataset.observe`, it yields every output file's row count, live-row
  * count and key range the moment the write finishes, with no post-write
  * I/O ([[graft.lake.LakeTable.writeDataFiles]]). Delta Lake collects its
  * per-file stats during the write the same way.
  *
  * Per key the buffer holds rows, live rows (a null `live` counts as not
  * live) and the min/max of `key` (the table's first merge key, cast to
  * string by the caller) in UTF8String BINARY order — the unsigned-byte
  * order parquet binary stats use, and the order the probe side compares
  * in. A min/max value is copied only when it moves: an unsafe-row
  * UTF8String points into a reused buffer. A group that saw a null `key`
  * yields null min/max (unknown bounds: the file is never skipped). A row
  * with a null `fileKey` is ignored, per SQL aggregate null semantics.
  *
  * Why a custom `TypedImperativeAggregate` and not builtins: `observe`
  * admits no GROUP BY, and Spark has no exact `map_agg`. The group count
  * is bounded by `write tasks × buckets per task` (≤ a few thousand), so
  * the buffer stays tiny. Not a UDF: no row-level serialization.
  */
case class FileStatsAgg(
    fileKey: Expression,
    key: Expression,
    live: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.LongMap[FileStatsAgg.Buf]] {
  import FileStatsAgg.Buf

  override def children: Seq[Expression] = Seq(fileKey, key, live)
  override def nullable: Boolean = false
  override def dataType: DataType = FileStatsAgg.resultType
  override def prettyName: String = FileStatsAgg.fnName

  override def createAggregationBuffer(): mutable.LongMap[Buf] = mutable.LongMap.empty

  override def update(buf: mutable.LongMap[Buf], input: InternalRow): mutable.LongMap[Buf] = {
    val fk = fileKey.eval(input)
    if (fk != null) {
      val b = buf.getOrElseUpdate(fk.asInstanceOf[Long], new Buf)
      b.rows += 1L
      val l = live.eval(input)
      if (l != null && l.asInstanceOf[Boolean]) b.live += 1L
      key.eval(input) match {
        case s: UTF8String =>
          if (b.minKey == null || s.binaryCompare(b.minKey) < 0) b.minKey = s.clone()
          if (b.maxKey == null || s.binaryCompare(b.maxKey) > 0) b.maxKey = s.clone()
        case _ => b.keyNulls = true
      }
    }
    buf
  }

  override def merge(buf: mutable.LongMap[Buf], other: mutable.LongMap[Buf]): mutable.LongMap[Buf] = {
    other.foreach { case (k, o) =>
      val b = buf.getOrElseUpdate(k, new Buf)
      b.rows += o.rows
      b.live += o.live
      if (o.minKey != null && (b.minKey == null || o.minKey.binaryCompare(b.minKey) < 0)) b.minKey = o.minKey
      if (o.maxKey != null && (b.maxKey == null || o.maxKey.binaryCompare(b.maxKey) > 0)) b.maxKey = o.maxKey
      b.keyNulls |= o.keyNulls
    }
    buf
  }

  override def eval(buf: mutable.LongMap[Buf]): Any = {
    val keys = new Array[Any](buf.size)
    val vals = new Array[Any](buf.size)
    var i = 0
    buf.foreach { case (k, b) =>
      keys(i) = k
      vals(i) = new GenericInternalRow(Array[Any](b.rows, b.live,
        if (b.keyNulls) null else b.minKey, if (b.keyNulls) null else b.maxKey))
      i += 1
    }
    ArrayBasedMapData(keys, vals)
  }

  override def serialize(buf: mutable.LongMap[Buf]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    def writeStr(s: UTF8String): Unit =
      if (s == null) out.writeInt(-1)
      else { val b = s.getBytes; out.writeInt(b.length); out.write(b) }
    out.writeInt(buf.size)
    buf.foreach { case (k, b) =>
      out.writeLong(k)
      out.writeLong(b.rows)
      out.writeLong(b.live)
      writeStr(b.minKey)
      writeStr(b.maxKey)
      out.writeBoolean(b.keyNulls)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.LongMap[Buf] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    def readStr(): UTF8String = {
      val len = in.readInt()
      if (len < 0) null
      else { val b = new Array[Byte](len); in.readFully(b); UTF8String.fromBytes(b) }
    }
    val n = in.readInt()
    val buf = mutable.LongMap.empty[Buf]
    var i = 0
    while (i < n) {
      val k = in.readLong()
      val b = new Buf
      b.rows = in.readLong()
      b.live = in.readLong()
      b.minKey = readStr()
      b.maxKey = readStr()
      b.keyNulls = in.readBoolean()
      buf.update(k, b)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FileStatsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FileStatsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FileStatsAgg =
    copy(fileKey = newChildren(0), key = newChildren(1), live = newChildren(2))
}

object FileStatsAgg {

  final class Buf {
    var rows: Long = 0L
    var live: Long = 0L
    var minKey: UTF8String = null
    var maxKey: UTF8String = null
    var keyNulls: Boolean = false
  }

  val resultType: DataType = MapType(
    LongType,
    StructType(Seq(
      StructField("rows", LongType, nullable = false),
      StructField("live", LongType, nullable = false),
      StructField("min_key", StringType),
      StructField("max_key", StringType))),
    valueContainsNull = false)

  val fnName = "graft_file_stats"

  /** Register in the session's function registry once, then build columns
    * with `call_function` — the public route to a custom aggregate column
    * (Column-from-Expression constructors are private[sql] in Spark 4).
    */
  def column(spark: SparkSession, fileKey: Column, key: Column, live: Column): Column = {
    val reg = spark.sessionState.functionRegistry
    val ident = org.apache.spark.sql.catalyst.FunctionIdentifier(fnName)
    if (!reg.functionExists(ident))
      reg.createOrReplaceTempFunction(fnName,
        exprs => FileStatsAgg(exprs(0), exprs(1), exprs(2)).toAggregateExpression(), "built-in")
    call_function(fnName, fileKey, key, live)
  }
}
