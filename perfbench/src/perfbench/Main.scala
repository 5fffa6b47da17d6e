package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{CdcStream, MergeApply, StreamFiles, WriteStrategy}
import graft.gen.ChangeGen
import graft.lake.{FileEntry, LakeTable}
import graft.model.Model

/** One benchmark JVM. `run.py` launches it with a JSON job on argv and reads
  * the last stdout line that starts with [[Main.Tag]].
  *
  * Phases:
  *   - `main`: set-up (input generation), ingest at 4N cores, the read loop,
  *     the oracle gates; with `trace` also the layer probes.
  *   - `n` (traced runs only): the same ingest of the same inputs at N cores
  *     in a fresh JVM, for the N/4N scaling pair.
  *   - `self_check`: every workload at the given (tiny) size in this one
  *     JVM: the traced main phase, the n phase, and the input-vs-generator
  *     oracle check.
  *
  * The engine is driven only through its public calls; every call the
  * benchmark times is wrapped in a [[Tracer]] span named after it.
  */
object Main {
  val Tag = "PERFBENCH_RESULT "

  def main(args: Array[String]): Unit = {
    val job = new ObjectMapper().readTree(args(0))
    val spark = graft.Sessions.local(job.get("cores").asInt, appName = "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    val out = new Out
    try {
      job.get("phase").asText match {
        case "main" => runMain(spark, job, job.get("params"), out)
        case "n" => runN(spark, job, job.get("params"), out)
        case "self_check" => selfCheck(spark, job, out)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally {
      out.put("jvm.gc_ms", java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).filter(_ > 0).sum.toDouble)
      println(Tag + out.json)
      System.out.flush()
      spark.stop()
    }
  }

  // ---- plan ----

  /** What a phase does, from the workload's parameters and `run.py`'s counts. */
  final case class Plan(p: JsonNode, seed: Long, work: String) {
    val inputs = s"$work/inputs"
    val ingest: String = p.get("ingest").asText
    val buckets: Int = p.get("buckets").asInt
    val eventsPerEpoch: Long = p.get("events_per_epoch").asLong
    val epochs: Int = p.get("epochs").asInt
    val warmup: Int = p.get("warmup_epochs").asInt
    val maintainEvery: Int = Option(p.get("maintain_every")).map(_.asInt).getOrElse(0)
    val points: Int = p.get("read").get("points").asInt
    val ranges: Int = p.get("read").get("ranges").asInt
    val rangeConvs: Int = p.get("read").get("range_convs").asInt
    val rounds: Int = p.get("read").get("rounds").asInt
    val cfg: ChangeGen.GenConfig = {
      val g = p.get("gen")
      ChangeGen.GenConfig(
        numConvs = g.get("numConvs").asInt, maxTurns = g.get("maxTurns").asInt,
        numEvents = eventsPerEpoch * epochs, seed = seed,
        hotConvs = g.get("hotConvs").asInt, hotFraction = g.get("hotFraction").asDouble,
        dupFraction = g.get("dupFraction").asDouble, oooWindow = g.get("oooWindow").asInt,
        pInsert = g.get("pInsert").asDouble, pUpdate = g.get("pUpdate").asDouble,
        v2From = g.get("v2From").asDouble)
    }
    def file(e: Int): String = f"$inputs/chunk-$e%04d.parquet"
    /** The oracle's fingerprint, left by the main phase for the n phase. */
    val oracleFile = s"$work/oracle.txt"
  }

  // ---- phases ----

  def runMain(spark: SparkSession, job: JsonNode, p: JsonNode, out: Out): Unit = {
    val plan = Plan(p, job.get("seed").asLong, job.get("work").asText)
    val tr = new Tracer(spark)
    val traced = job.get("trace").asBoolean
    step("setup")(Setup.generate(spark, plan, tr, out))
    // The oracle is computed before the ingest on purpose: its scan,
    // shuffle and aggregate warm the JVM on the same Spark paths.
    val truth = step("oracle")(Oracle.collect(Oracle.fromFiles(spark, (0 until plan.epochs).map(plan.file))))
    Files.writeString(Paths.get(plan.oracleFile), truth.fingerprint.mkString(" "))
    if (traced) tr.attach()
    val table = LakeTable.create(spark, s"${plan.work}/table", 1, plan.buckets)
    val ing = step("ingest")(Ingest.run(spark, plan, table, plan.epochs, s"${plan.work}/ckpt", tr, out))
    step("gate")(Oracle.gate(table, truth.fingerprint, out, "main"))
    if (truth.rows > 0) out.put("bytes_per_live_row", Layers.dataBytes(spark, table.current) / truth.rows)
    val reads = new Reads(spark, table, truth, plan, tr, out)
    step("reads")(reads.loop(if (traced) 2 * plan.rounds else plan.rounds, alternateTrace = traced))
    if (!out.wrong) {
      out.put("events_per_s", ing.eventsPerS)
      out.put("epoch_s_p50", ing.epochSP50)
      reads.report()
      if (traced) out.put("scaling.events_per_s_4n", ing.eventsPerS)
    }
    if (traced) {
      tr.attach()
      step("probes")(Layers.probe(spark, plan, table, ing, reads, tr, out))
      tr.dump(s"${plan.work}/spans.jsonl")
    }
  }

  /** A phase step, its wall time logged for whoever sizes the workloads. */
  def step[A](what: String)(f: => A): A = {
    val (r, ms) = timedMs(f)
    System.err.println(f"[perfbench] $what%-8s ${ms / 1000}%.1f s")
    r
  }

  def runN(spark: SparkSession, job: JsonNode, p: JsonNode, out: Out): Unit = {
    val plan = Plan(p, job.get("seed").asLong, job.get("work").asText)
    val tr = new Tracer(spark)
    if (job.get("trace").asBoolean) tr.attach()
    val want = Files.readString(Paths.get(plan.oracleFile)).split(" ").map(_.toLong).toSeq
    val table = LakeTable.create(spark, s"${plan.work}/table_n", 1, plan.buckets)
    val ing = step("ingest_n")(Ingest.run(spark, plan, table, plan.epochs, s"${plan.work}/ckpt_n", tr, out))
    step("gate_n")(Oracle.gate(table, want, out, "n"))
    if (!out.wrong) out.put("scaling.events_per_s_n", ing.eventsPerS)
  }

  /** All workloads, tiny, in one JVM: the traced main phase (set-up,
    * ingest, gates, read loop, layer probes), the N-core ingest, and a check
    * that the set-up's input files hold exactly the generator's stream (their
    * LWW fold equals `ChangeGen.oracleDf`). Metrics come back as
    * `<workload>/<metric>` so the launcher can check that each was measured.
    */
  def selfCheck(spark: SparkSession, job: JsonNode, out: Out): Unit =
    job.get("workloads").fields().asScala.foreach { e =>
      val (name, p) = (e.getKey, e.getValue)
      val j = new ObjectMapper().createObjectNode()
      j.put("seed", job.get("seed").asLong).put("trace", true).put("work", s"${job.get("work").asText}/$name")
      val o = new Out
      step(s"$name main")(runMain(spark, j, p, o))
      step(s"$name n")(runN(spark, j, p, o))
      val plan = Plan(p, job.get("seed").asLong, j.get("work").asText)
      o.op("input files vs ChangeGen.oracleDf") {
        val diff = Oracle.diff(Oracle.fromFiles(spark, (0 until plan.epochs).map(plan.file)),
          ChangeGen.oracleDf(spark, plan.cfg).toDF())
        if (diff != 0) o.fail(s"$name: input files' LWW fold differs from ChangeGen.oracleDf in $diff rows")
      }
      out.absorb(o)
      o.metrics.foreach { case (k, v) => out.put(s"$name/$k", v) }
    }

  // ---- helpers ----

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timedMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** The result one JVM reports: metrics plus the attempted/failed counts. */
final class Out {
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()

  def put(k: String, v: Double): Unit = metrics(k) = v
  def attempt(n: Long = 1): Unit = attempted += n
  def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += msg
    System.err.println(s"[perfbench] FAIL $msg")
  }
  def wrong: Boolean = failed > 0

  /** Run one operation, counting it; an exception counts as a failure. */
  def op[A](what: String)(f: => A): Option[A] = {
    attempt()
    try Some(f)
    catch {
      case e: Exception =>
        e.printStackTrace()
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def absorb(o: Out): Unit = {
    attempted += o.attempted
    failed += o.failed
    errors ++= o.errors
  }

  def json: String = {
    val m = new ObjectMapper()
    val n = m.createObjectNode()
    n.put("attempted", attempted)
    n.put("failed", failed)
    val mm = n.putObject("metrics")
    metrics.foreach { case (k, v) => mm.put(k, v) }
    val es = n.putArray("errors")
    errors.foreach(es.add)
    m.writeValueAsString(n)
  }
}

/** Input generation: the set-up of every workload. The emitted change
  * stream of one `ChangeGen` config is cut into one parquet file per epoch
  * by emission key, so each file is generated (and timed) on its own: a
  * file holds the events whose emission key falls in its window, which
  * keeps the generator's bounded out-of-order arrival and spreads its
  * duplicate re-emissions across epochs. Together the files hold exactly
  * the generator's stream.
  */
object Setup {
  def generate(spark: SparkSession, plan: Main.Plan, tr: Tracer, out: Out): Unit = {
    import spark.implicits._
    val cfg = plan.cfg
    val e0 = plan.eventsPerEpoch
    Files.createDirectories(Paths.get(plan.inputs))
    val walls = (0 until plan.epochs).map { e =>
      val lo = e * e0
      val hi = if (e == plan.epochs - 1) Long.MaxValue else (e + 1) * e0
      val (_, ms) = Main.timedMs(tr.span("gen.write_epoch") {
        // one task, no exchange: the file is small and written as one file
        val idx = spark.range(math.max(0L, lo - cfg.oooWindow), math.min(cfg.numEvents, hi), 1, 1)
          .union(spark.range(cfg.numEvents, cfg.totalRows, 1, 1))
          .coalesce(1)
        val keyed = idx.as[Long]
          .map(i => (ChangeGen.emitKey(cfg, i), i, ChangeGen.rowAt(cfg, i)))
          .toDF("k", "i", "e")
          .filter($"k" >= lo && $"k" < hi)
          .sortWithinPartitions($"k", $"i")
          .select("e.*")
        StreamFiles.writeFlat(keyed, plan.inputs, f"chunk-$e%04d")
      })
      ms
    }
    val med = Main.median(walls)
    out.put("setup_s", med * plan.epochs / 1000.0)
    out.put("gen.events_per_s", cfg.totalRows.toDouble / plan.epochs / (med / 1000.0))
  }
}

/** The measured ingest of one phase and what it observed per epoch. */
final case class IngestResult(
    epochWallS: Seq[Double], epochEvents: Seq[Long], measuredFrom: Int,
    progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) {
  System.err.println("[perfbench] epochs_s " + epochWallS.map(w => f"$w%.2f").mkString(" "))
  private def measured[A](xs: Seq[A]): Seq[A] = xs.drop(measuredFrom)
  def eventsPerS: Double = measured(epochEvents).sum / measured(epochWallS).sum
  def epochSP50: Double = Main.median(measured(epochWallS))
}

object Ingest {
  /** Apply input files 0 until `n` to `table`, by the workload's ingest path:
    *   - `apply_cow`: one `MergeApply.applyBatch` copy-on-write epoch per file;
    *   - `stream_mor`: `CdcStream.runAvailable` tailing the files, one file
    *     per trigger, merge-on-read, in-stream compaction and expiry every
    *     `maintain_every` epochs; epoch walls are the triggers' own
    *     `durationMs.triggerExecution` progress records.
    * The first `warmup_epochs` epochs are not measured.
    */
  def run(spark: SparkSession, plan: Main.Plan, table: LakeTable, n: Int, ckpt: String,
      tr: Tracer, out: Out): IngestResult = plan.ingest match {
    case "apply_cow" =>
      val rs = (0 until n).flatMap { e =>
        val df = spark.read.schema(Model.changeEventSchema).parquet(plan.file(e))
        out.op(s"applyBatch epoch $e") {
          val (st, ms) = Main.timedMs(tr.span("cdc.MergeApply.applyBatch")(
            MergeApply.applyBatch(table, df, e)))
          if (!st.applied) throw new IllegalStateException(s"epoch $e not applied")
          (ms / 1000.0, st.inputEvents)
        }
      }
      IngestResult(rs.map(_._1), rs.map(_._2), plan.warmup, Nil)
    case "stream_mor" =>
      val watch = s"$ckpt-src"
      Files.createDirectories(Paths.get(watch))
      (0 until n).foreach(e => Files.createLink(Paths.get(f"$watch/chunk-$e%04d.parquet"), Paths.get(plan.file(e))))
      val log = new ProgressLog
      spark.streams.addListener(log)
      val cfg = CdcStream.StreamConfig(maxFilesPerTrigger = 1,
        strategy = WriteStrategy.MergeOnRead,
        compactEveryEpochs = plan.maintainEvery, expireEveryEpochs = plan.maintainEvery,
        expireOrphanGraceMs = 0L)
      out.op("CdcStream.runAvailable")(tr.span("cdc.CdcStream.runAvailable")(
        CdcStream.runAvailable(spark, table, watch, ckpt, cfg)))
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.streams.removeListener(log)
      // numInputRows counts every scan of the batch (foreachBatch reads it
      // twice), so events per epoch come from the engine's _metrics channel.
      val ps = log.progress.filter(_.numInputRows > 0).sortBy(_.batchId)
      val events = CdcStream.metrics(spark, table.root).select("epoch_id", "input_events").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      out.attempt()
      if (ps.size != n || ps.exists(p => !events.contains(p.batchId)))
        out.fail(s"stream ran ${ps.size} data triggers, ${events.size} applied epochs for $n files")
      IngestResult(ps.map(_.durationMs.get("triggerExecution").doubleValue / 1000.0),
        ps.map(p => events.getOrElse(p.batchId, 0L)), plan.warmup, ps)
  }
}

/** The LWW oracle: per key, the max-LSN event among the events the engine
  * received; deletes remove the key. Same fold as `ChangeGen.oracleDf`,
  * over the input files themselves.
  */
object Oracle {
  val publicCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  def fromFiles(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.schema(Model.changeEventSchema).parquet(files: _*)
      .groupBy("conv_id", "turn_idx")
      .agg(max_by(struct(col("*")), col("lsn")).as("e"))
      .select("e.*")
      .filter(col("op") =!= "D")
      .select(publicCols.map(col): _*)

  /** Key plus payload hash of every row; `tool` is absent before schema v2. */
  def keyed(df: DataFrame, extra: Column*): DataFrame = {
    val tool = if (df.columns.contains("tool")) col("tool") else lit(null).cast("string")
    df.select(Seq(col("conv_id"), col("turn_idx").cast("int").as("turn_idx"),
      xxhash64(col("conv_id"), col("turn_idx").cast("long"), col("role"), col("text"), tool,
        col("ts")).as("h")) ++ extra: _*)
  }

  /** Rows whose key or payload differs between two states. */
  def diff(a: DataFrame, b: DataFrame): Long = {
    val l = keyed(a).withColumnRenamed("h", "ha")
    val r = keyed(b).withColumnRenamed("h", "hb")
    l.join(r, Seq("conv_id", "turn_idx"), "full_outer")
      .filter(col("ha").isNull || col("hb").isNull || col("ha") =!= col("hb"))
      .count()
  }

  /** Row count and XOR of the key + payload hashes of a state. */
  def fingerprint(df: DataFrame): Seq[Long] = {
    val r = keyed(df).agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L))).collect()(0)
    Seq(r.getLong(0), r.getLong(1))
  }

  def gate(table: LakeTable, want: Seq[Long], out: Out, what: String): Unit =
    out.op(s"$what oracle gate") {
      val got = fingerprint(table.read())
      if (got != want) out.fail(s"$what: final table (rows, key+payload hash xor) $got " +
        s"differs from the LWW fold's $want")
    }

  /** The oracle's rows by conversation, for the read checks. */
  final class Truth(val byConv: Map[String, Map[Int, Long]]) {
    val rows: Long = byConv.valuesIterator.map(_.size.toLong).sum
    val convs: IndexedSeq[String] = byConv.keys.toIndexedSeq.sorted
    val xor: Long = byConv.valuesIterator.flatMap(_.valuesIterator).foldLeft(0L)(_ ^ _)
    def fingerprint: Seq[Long] = Seq(rows, xor)
    def get(c: String, t: Int): Option[Long] = byConv.get(c).flatMap(_.get(t))
  }

  def collect(oracle: DataFrame): Truth = {
    val rows = keyed(oracle).collect()
    new Truth(rows.groupBy(_.getString(0)).map { case (c, rs) =>
      c -> rs.map(r => r.getInt(1) -> r.getLong(2)).toMap
    })
  }
}

/** The closed read loop: one client, the next operation starts when the
  * previous one has returned. A round is `points` point reads, `ranges`
  * narrow range reads, one one-epoch changelog read, and one full read consumed by
  * an aggregate over every live row's payload. Every result is checked
  * against the oracle; a wrong result counts as failed.
  */
final class Reads(spark: SparkSession, table: LakeTable, val truth: Oracle.Truth, plan: Main.Plan,
    tr: Tracer, out: Out) {
  private val rng = new scala.util.Random(plan.seed * 7919L + 17L)
  val lat: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map()
  val tracedRoundMs = mutable.ArrayBuffer[Double]()
  val untracedRoundMs = mutable.ArrayBuffer[Double]()
  val pointKeys = mutable.ArrayBuffer[String]()
  val ranges = mutable.ArrayBuffer[(String, String)]()

  private def rec(op: String, ms: Double): Unit = lat.getOrElseUpdate(op, mutable.ArrayBuffer()) += ms

  private def check(what: String, got: Array[org.apache.spark.sql.Row],
      want: Iterable[((String, Int), Long)]): Unit = {
    val g = got.map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val w = want.toMap
    if (g != w) out.fail(s"$what: ${g.size} rows read, ${w.size} expected, " +
      s"${(g.toSet diff w.toSet).size} wrong")
  }

  private def want(convs: Iterable[String]): Iterable[((String, Int), Long)] =
    convs.flatMap(c => truth.byConv.getOrElse(c, Map.empty).map { case (t, h) => (c, t) -> h })

  def point(): Unit = {
    val c = truth.convs(rng.nextInt(truth.convs.size))
    pointKeys += c
    out.op(s"readKey $c") {
      val (rows, ms) = Main.timedMs(tr.span("lake.LakeTable.readKey")(
        Oracle.keyed(table.readKey(c)).collect()))
      rec("point", ms)
      check(s"readKey $c", rows, want(Seq(c)))
    }
  }

  def range(): Unit = {
    val j = rng.nextInt(truth.convs.size)
    val lo = truth.convs(j)
    val hi = truth.convs(math.min(truth.convs.size - 1, j + plan.rangeConvs - 1))
    ranges += ((lo, hi))
    out.op(s"readKeyRange $lo..$hi") {
      val (rows, ms) = Main.timedMs(tr.span("lake.LakeTable.readKeyRange")(
        Oracle.keyed(table.readKeyRange(lo, hi)).collect()))
      rec("range", ms)
      check(s"readKeyRange $lo..$hi", rows, want(truth.convs.filter(c => c >= lo && c <= hi)))
    }
  }

  /** The last commit's window: UPSERT rows must be the oracle's rows,
    * DELETE keys must be absent from it.
    */
  def changes(): Unit = out.op("readChangesSince") {
    val cur = table.current
    val (rows, ms) = Main.timedMs(tr.span("lake.LakeTable.readChangesSince")(
      Oracle.keyed(table.readChangesSince(cur.parent, cur.id), col("change_type")).collect()))
    rec("changes", ms)
    val bad = rows.count { r =>
      val k = truth.get(r.getString(0), r.getInt(1))
      r.getString(3) match {
        case "DELETE" => k.isDefined
        case _ => !k.contains(r.getLong(2))
      }
    }
    if (rows.isEmpty || bad > 0) out.fail(s"readChangesSince: ${rows.length} rows, $bad wrong")
  }

  def scan(): Unit = out.op("read+aggregate") {
    val (fp, ms) = Main.timedMs(tr.span("lake.LakeTable.read")(Oracle.fingerprint(table.read())))
    rec("scan", ms)
    if (fp != truth.fingerprint) out.fail(s"read: (rows, hash xor) $fp, expected ${truth.fingerprint}")
  }

  /** One unmeasured warm-up round, then `rounds` measured ones. With
    * `alternateTrace` the listener is attached on even rounds only, so the
    * traced run states its own overhead on identical work.
    */
  def loop(rounds: Int, alternateTrace: Boolean): Unit = {
    val wasOn = tr.on
    def round(): Double = {
      val t0 = System.nanoTime()
      (0 until plan.points).foreach(_ => point())
      (0 until plan.ranges).foreach(_ => range())
      changes(); scan()
      (System.nanoTime() - t0) / 1e6
    }
    round()
    lat.clear(); pointKeys.clear(); ranges.clear()
    (0 until rounds).foreach { i =>
      if (alternateTrace) { if (i % 2 == 0) tr.attach() else tr.detach() }
      val ms = round()
      if (tr.on) tracedRoundMs += ms else untracedRoundMs += ms
    }
    if (wasOn) tr.attach() else tr.detach()
  }

  def report(): Unit = {
    def p50(op: String) = Main.median(lat.getOrElse(op, Nil).toSeq)
    lat.foreach { case (op, xs) => System.err.println(f"[perfbench] $op%-8s ms " + xs.map(x => f"$x%.0f").mkString(" ")) }
    out.put("point_ms_p50", p50("point"))
    out.put("range_ms_p50", p50("range"))
    out.put("changes_s_p50", p50("changes") / 1000.0)
    out.put("scan_s_p50", p50("scan") / 1000.0)
  }
}

/** Per-layer numbers of a traced main phase: the spans and counters of the
  * workload itself, plus one probe per layer the workload reaches only
  * through another (the stream's merges, a hot_cow table's maintenance,
  * a fixed-frame write pass).
  */
object Layers {
  def dataBytes(spark: SparkSession, snap: graft.lake.Snapshot): Double = {
    val conf = spark.sessionState.newHadoopConf()
    snap.files.map { f =>
      val p = new Path(f.path)
      p.getFileSystem(conf).getFileStatus(p).getLen.toDouble
    }.sum
  }

  def probe(spark: SparkSession, plan: Main.Plan, table: LakeTable, ing: IngestResult,
      reads: Reads, tr: Tracer, out: Out): Unit = {
    import spark.implicits._
    // lake.LakeTable: manifest load, read pruning, changelog width, taken
    // before any probe commits so they describe the table the read loop saw.
    val cur = table.current
    val curMs = (0 until 10).map(_ => Main.timedMs(tr.span("lake.LakeTable.current")(table.current))._2)
    out.put("lake.LakeTable.current_ms", Main.median(curMs))
    val keys = reads.pointKeys.distinct.toSeq
    val bucketOf = keys.toDF("k").select($"k", MergeApply.bucketOf($"k", cur.numBuckets))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val opened = keys.map(k => tr.span("lake.LakeTable.filesForKey")(table.filesForKey(k)).size.toDouble)
    out.put("lake.LakeTable.point_files_opened", opened.sum / opened.size)
    out.put("lake.LakeTable.files_in_bucket",
      keys.map(k => cur.files.count(_.bucket == bucketOf(k)).toDouble).sum / keys.size)
    val rf = reads.ranges.toSeq.map { case (lo, hi) => table.readKeyRange(lo, hi).inputFiles.length.toDouble }
    out.put("lake.LakeTable.range_files_opened", rf.sum / rf.size)
    out.put("lake.LakeTable.changes_buckets",
      table.changedBuckets(table.snapshot(cur.parent), cur).size.toDouble)
    val readSpans = Seq("readKey", "readKeyRange", "readChangesSince", "read")
      .flatMap(o => tr.named(s"lake.LakeTable.$o"))
    // only spans of traced rounds saw the listener: count ops that ran jobs
    val traced = readSpans.filter(s => tr.work(Seq(s)).jobs > 0)
    out.put("lake.LakeTable.read_input_bytes",
      tr.work(traced).c.inputBytes.toDouble / math.max(1, traced.size))
    out.put("lake.LakeTable.delta_files", cur.files.count(_.kind == FileEntry.Delta).toDouble)

    // cdc.MergeApply: the measured epochs, or one direct merge-on-read
    // applyBatch of the last input file when the stream did the merging.
    val last = spark.read.schema(Model.changeEventSchema).parquet(plan.file(plan.epochs - 1))
    val merges = plan.ingest match {
      case "apply_cow" => tr.named("cdc.MergeApply.applyBatch").drop(plan.warmup)
      case _ =>
        out.op("probe applyBatch")(tr.span("cdc.MergeApply.applyBatch")(
          MergeApply.applyBatch(table, last, -1L, strategy = WriteStrategy.MergeOnRead)))
        tr.named("cdc.MergeApply.applyBatch")
    }
    val mEvents = plan.ingest match {
      case "apply_cow" => ing.epochEvents.drop(plan.warmup).sum.toDouble
      case _ => last.count().toDouble
    }
    val batchKeys = plan.ingest match {
      case "apply_cow" => (plan.warmup until plan.epochs).map(e =>
        spark.read.parquet(plan.file(e)).select("conv_id", "turn_idx").distinct().count()).sum.toDouble
      case _ => last.select("conv_id", "turn_idx").distinct().count().toDouble
    }
    val mw = tr.work(merges)
    val n = merges.size.toDouble
    out.put("cdc.MergeApply.apply_ms", Main.median(merges.map(_.wallMs.toDouble)))
    out.put("cdc.MergeApply.task_cpu_ms_per_kevent", mw.c.cpuNs / 1e6 / (mEvents / 1000.0))
    out.put("cdc.MergeApply.shuffle_write_bytes_per_event", mw.c.shuffleWrite / mEvents)
    out.put("cdc.MergeApply.spill_bytes", mw.c.spill / n)
    out.put("cdc.MergeApply.gc_ms", mw.c.gcMs / n)
    out.put("cdc.MergeApply.driver_ms", mw.driverMs / n)
    out.put("cdc.MergeApply.jobs", mw.jobs / n)
    out.put("cdc.MergeApply.stages", mw.stages / n)
    out.put("cdc.MergeApply.rows_written_per_key", mw.c.outputRows / batchKeys)

    // lake.LakeTable write pass: writeDataFiles on one fixed resolved frame
    // (the current table, bucketed as the merge writes it) into a
    // throwaway table, three times.
    val frame = table.readResolved(cur, None)
      .withColumn("_bucket", MergeApply.bucketOf(col("conv_id"), cur.numBuckets))
      .repartition(cur.numBuckets, col("_bucket"))
      .cache()
    val rows = frame.count().toDouble
    val scratch = LakeTable.create(spark, s"${plan.work}/probe_write", cur.schemaVer, cur.numBuckets)
    val ws = (0 until 3).map { _ =>
      val (files, ms) = Main.timedMs(tr.span("lake.LakeTable.writeDataFiles")(
        scratch.writeDataFiles(frame, cur.schemaVer)))
      (ms, files.size.toDouble, dataBytes(spark, cur.copy(files = files)))
    }
    frame.unpersist()
    out.put("lake.LakeTable.write_ms_per_mrow", Main.median(ws.map(_._1)) / (rows / 1e6))
    out.put("lake.LakeTable.files_written_per_epoch", Main.median(ws.map(_._2)))
    out.put("lake.LakeTable.bytes_written_per_row", Main.median(ws.map(_._3)) / rows)

    // lake.LakeTable maintenance: fold every bucket holding more than one
    // file, then expire all but the current snapshot.
    tr.span("lake.LakeTable.compact")(table.compact(maxFilesPerBucket = 1, foldDeltas = true))
    val cw = tr.work(tr.named("lake.LakeTable.compact"))
    out.put("lake.LakeTable.compact_ms", tr.named("lake.LakeTable.compact").map(_.wallMs).sum.toDouble)
    out.put("lake.LakeTable.compact_bytes_rewritten", cw.c.outputBytes.toDouble)
    val (rep, expMs) = Main.timedMs(tr.span("lake.LakeTable.expireSnapshots")(
      table.expireSnapshots(keepLast = 1, orphanGraceMs = 0L)))
    out.put("lake.LakeTable.expire_ms", expMs)
    out.put("lake.LakeTable.expire_files_deleted", rep.dataFilesDeleted.toDouble)
    Oracle.gate(table, reads.truth.fingerprint, out, "post-maintenance")

    // cdc.CdcStream: the workload's own triggers, or a one-trigger stream of
    // the first input file into a throwaway merge-on-read table.
    val (ps, root) = plan.ingest match {
      case "stream_mor" => (ing.progress.drop(plan.warmup), table.root)
      case _ =>
        val probeWork = s"${plan.work}/probe_stream"
        val t = LakeTable.create(spark, probeWork + "/table", 1, plan.buckets)
        val pplan = plan.copy(p = plan.p.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
          .put("ingest", "stream_mor").put("maintain_every", 0))
        val r = Ingest.run(spark, pplan, t, 1, probeWork + "/ckpt", tr, out)
        (r.progress, t.root)
    }
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val mergeMs = CdcStream.metrics(spark, root).select("epoch_id", "duration_ms").collect()
      .map(r => r.getLong(0) -> r.getLong(1).toDouble).toMap
    out.put("cdc.CdcStream.trigger_ms", Main.median(ps.map(d(_, "triggerExecution"))))
    out.put("cdc.CdcStream.add_batch_ms", Main.median(ps.map(d(_, "addBatch"))))
    out.put("cdc.CdcStream.merge_ms", Main.median(ps.flatMap(p => mergeMs.get(p.batchId))))
    out.put("cdc.CdcStream.overhead_ms",
      Main.median(ps.flatMap(p => mergeMs.get(p.batchId).map(m => d(p, "addBatch") - m))))
    out.put("cdc.CdcStream.wal_ms", Main.median(ps.map(p => d(p, "walCommit") + d(p, "commitOffsets"))))
    out.put("cdc.CdcStream.offset_ms", Main.median(ps.map(p => d(p, "latestOffset") + d(p, "getBatch"))))

    // tracing overhead, on the read loop's alternating rounds
    out.put("trace.overhead_frac",
      Main.median(reads.tracedRoundMs.toSeq) / Main.median(reads.untracedRoundMs.toSeq) - 1.0)
  }
}
