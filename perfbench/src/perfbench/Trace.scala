package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One timed call into the engine. Times are wall-clock milliseconds so
  * Spark job events (which carry epoch-ms timestamps) can be placed inside.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long) {
  def wallMs: Long = endMs - startMs
}

/** Task counters summed over the tasks of a set of stages. */
final class Counters {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var outputRows = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    spill += m.memoryBytesSpilled + m.diskBytesSpilled
    inputBytes += m.inputMetrics.bytesRead
    outputBytes += m.outputMetrics.bytesWritten
    outputRows += m.outputMetrics.recordsWritten
  }

  def add(o: Counters): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; spill += o.spill
    inputBytes += o.inputBytes; outputBytes += o.outputBytes; outputRows += o.outputRows
  }
}

/** Spark jobs, stages and task counters as the listener bus reports them. */
final class JobLog extends SparkListener {
  final case class Job(id: Int, startMs: Long, stages: Seq[Int]) { var endMs: Long = -1L }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val completed = mutable.Set[Int]()
  private val byStage = mutable.Map[Int, Counters]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    completed += e.stageInfo.stageId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) byStage.getOrElseUpdate(e.stageId, new Counters).add(e.taskMetrics)
  }

  def snapshot(): (Seq[Job], Map[Int, Int], Set[Int], Map[Int, Counters]) = synchronized {
    (jobs.values.toList, stageJob.toMap, completed.toSet, byStage.toMap)
  }
}

/** Per-trigger progress records of streaming queries (`durationMs` by phase). */
final class ProgressLog extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized { buf += e.progress }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = synchronized(buf.toList)
}

/** What one span did on the cluster: its jobs, the stages that ran, their
  * task counters, and the serial driver slice (wall minus job time).
  */
final case class SpanWork(jobs: Int, stages: Int, c: Counters, driverMs: Long)

/** In-memory spans around the benchmark's calls into the engine, plus the
  * listener that attributes Spark work to them. Spans are always recorded
  * (a clock read each); the SparkListener is attached only while `on`, so
  * an untraced stretch costs the engine nothing.
  */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[(Int, String, Long)]()
  private var nextId = 0
  private var log: JobLog = null
  private val retired = mutable.ArrayBuffer[JobLog]()

  def on: Boolean = log != null

  def attach(): Unit = if (log == null) {
    log = new JobLog
    spark.sparkContext.addSparkListener(log)
  }

  def detach(): Unit = if (log != null) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(log)
    retired += log
    log = null
  }

  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = if (stack.isEmpty) -1 else stack.top._1
    stack.push((id, name, System.currentTimeMillis()))
    try f
    finally {
      val (_, _, start) = stack.pop()
      spans += Span(id, name, parent, start, System.currentTimeMillis())
    }
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toList

  /** Attribute every logged job to the innermost span open at its start. */
  def work(sel: Seq[Span]): SpanWork = {
    if (log != null) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val logs = retired.toList ++ Option(log).toList
    val ids = sel.map(_.id).toSet
    var jobs = 0
    var stages = 0
    var jobMs = 0L
    val c = new Counters
    logs.foreach { l =>
      val (js, stageJob, completed, byStage) = l.snapshot()
      val owned = js.filter(j => innermost(j.startMs).exists(s => ids.contains(s.id)))
      val ownedIds = owned.map(_.id).toSet
      jobs += owned.size
      byStage.foreach { case (st, cs) =>
        if (stageJob.get(st).exists(ownedIds.contains)) c.add(cs)
      }
      stages += completed.count(st => stageJob.get(st).exists(ownedIds.contains))
      sel.foreach { s =>
        val iv = owned.filter(j => innermost(j.startMs).exists(_.id == s.id))
          .map(j => (math.max(j.startMs, s.startMs), math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
        jobMs += unionMs(iv)
      }
    }
    SpanWork(jobs, stages, c, math.max(0L, sel.map(_.wallMs).sum - jobMs))
  }

  private def innermost(t: Long): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs).sortBy(s => (-s.startMs, -s.id)).headOption

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Spans as JSON lines, written when the run ends. */
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    } finally w.close()
  }
}
