package graftbench

import java.time.Instant
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.{PerfBenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans are opened around the benchmark's
  * own calls into each layer (run, setup, pass, query, operators.build,
  * exec.materialize); Spark's public hooks add counters and job spans.
  * With one query in flight and the listener bus drained at the end of
  * every query, each listener event belongs to the query whose span was
  * open when it was posted. Everything stays in memory until the end.
  *
  * Times are nanoseconds since `originNs` (a `System.nanoTime` reading
  * taken together with `originEpochMs`), so epoch-stamped listener
  * events land on the same axis. */
final class Tracer(spark: SparkSession, originNs: Long, originEpochMs: Long) {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  val queries = mutable.ArrayBuffer[QueryRecord]()
  private var open = List.empty[Int]
  private var nextId = 0

  // Counters are written by listener threads and read after a drain.
  // Every name starts at zero, so a counter no hook ever feeds is still
  // reported and a dead hook shows as a zero where events are due.
  private val counters = mutable.LinkedHashMap[String, Double](Counters.map(_ -> 0.0): _*)
  def add(name: String, v: Double): Unit =
    counters.synchronized { counters(name) = counters.getOrElse(name, 0.0) + v }
  def snapshot(): Map[String, Double] = counters.synchronized(counters.toMap)

  def now(): Long = System.nanoTime() - originNs
  def fromEpochMs(ms: Long): Long = (ms - originEpochMs) * 1000000L

  def record(name: String, parent: Int, start: Long, end: Long): Int = synchronized {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, name, start, end)
    id
  }

  def span[T](name: String, start: Long = now())(body: => T): T = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    try body
    finally {
      open = open.tail
      synchronized(spans += Span(id, parent, name, start, now()))
    }
  }

  /** The currently open span, the parent of listener-made job spans. */
  def current: Int = open.headOption.getOrElse(-1)

  private val jobStarts = mutable.Map[Int, (Long, Int)]()
  private val jobsOfQuery = mutable.ArrayBuffer[(Long, Long)]()
  private val stageTasks = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  @volatile private var jobParent = -1

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("exec.jobs", 1)
      val props = Option(e.properties)
      if (props.exists(_.getProperty(PhaseKey) == "build")) add("operators.build_jobs", 1)
      // A job's parent is the build or materialize span that submitted it;
      // a job from a pooled thread may carry a stale or no span id, and
      // then hangs off the query span.
      val parent = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
        .filter(_ > jobParent).getOrElse(jobParent)
      jobStarts.synchronized(jobStarts(e.jobId) = (e.time, parent))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = jobStarts.synchronized(jobStarts.remove(e.jobId))
      start.foreach { case (s, parent) =>
        jobsOfQuery.synchronized(jobsOfQuery += ((s, e.time)))
        record("exec.job", parent, fromEpochMs(s), fromEpochMs(e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      if (e.reason != Success) add("exec.failed_tasks", 1)
      val d = e.taskInfo.duration
      add("exec.task_s", d / 1e3)
      stageTasks.synchronized {
        stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer[Long]()) += d
      }
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("exec.spill_bytes", m.diskBytesSpilled.toDouble)
        add("sources.scan_bytes", m.inputMetrics.bytesRead.toDouble)
        add("sources.scan_rows", m.inputMetrics.recordsRead.toDouble)
        add("sources.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        add("sources.output_rows", m.outputMetrics.recordsWritten.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("exec.stages", 1)
      val info = e.stageInfo
      val ds = stageTasks.synchronized(
        stageTasks.remove((info.stageId, info.attemptNumber())))
      ds.filter(_.nonEmpty).foreach { d =>
        val sorted = d.sorted
        add("exec.straggler_s", (sorted.last - sorted(sorted.size / 2)) / 1e3)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      add("plans.query_executions", 1)
      val p = qe.tracker.phases
      for (ph <- Seq("analysis", "optimization", "planning"))
        p.get(ph).foreach(s => add(s"plans.${ph}_s", s.durationMs / 1e3))
    }
  }

  private val streamListener = new StreamingQueryListener {
    private val started = mutable.Map[UUID, Long]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      add("streaming.queries_started", 1)
      started.synchronized(started(e.runId) = Instant.parse(e.timestamp).toEpochMilli)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("streaming.batches", 1)
      def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("streaming.batch_s", ms("triggerExecution") / 1e3)
      add("streaming.add_batch_s", ms("addBatch") / 1e3)
      add("streaming.query_planning_s", ms("queryPlanning") / 1e3)
      add("streaming.wal_commit_s", ms("walCommit") / 1e3)
      started.synchronized(started.remove(p.runId)).foreach { s =>
        add("streaming.startup_s", (Instant.parse(p.timestamp).toEpochMilli - s) / 1e3)
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      started.synchronized(started.remove(e.runId))
  }

  spark.sparkContext.addSparkListener(sparkListener)

  /** Per-session hooks: each pass runs in a fresh session. */
  def attach(s: SparkSession): Unit = {
    s.listenerManager.register(planListener)
    s.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    CountingFileSystem.counting = false
  }

  CountingFileSystem.counting = true
  private var fsLast = fsStats()
  private def fsStats(): (Long, Long, Long) =
    (CountingFileSystem.readOps.get, CountingFileSystem.writeOps.get,
      FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum)

  /** Runs one query under its span; afterwards drains the bus and
    * charges the query with every event and file operation since the
    * previous query. `build` and `materialize` get their own spans, and
    * every job carries the id of the span that submitted it. */
  def query(name: String, pass: Int)(build: => DataFrame, materialize: DataFrame => Unit): Unit = {
    val before = snapshot()
    var qSpan = -1
    val start = now()
    try span(s"query:$name") {
      qSpan = current
      jobParent = qSpan
      val sc = spark.sparkContext
      def phase(name: String, label: String)(body: => Unit): Unit = span(name) {
        sc.setLocalProperty(PhaseKey, label)
        sc.setLocalProperty(SpanKey, current.toString)
        body
      }
      try {
        var df: DataFrame = null
        phase("operators.build", "build") { df = build }
        // A builder's Dataset is analyzed when it is created, under its
        // own tracker; the action's listener event only sees the write.
        df.queryExecution.tracker.phases.get("analysis")
          .foreach(p => add("plans.analysis_s", p.durationMs / 1e3))
        phase("exec.materialize", "materialize")(materialize(df))
      } finally {
        sc.setLocalProperty(PhaseKey, null)
        sc.setLocalProperty(SpanKey, null)
      }
    } finally {
      val end = now()
      PerfBenchBus.drain(spark.sparkContext)
      val (r, w, b) = fsStats()
      add("sources.fs_read_ops", (r - fsLast._1).toDouble)
      add("sources.fs_write_ops", (w - fsLast._2).toDouble)
      add("sources.fs_bytes_written", (b - fsLast._3).toDouble)
      fsLast = (r, w, b)
      val jobs = jobsOfQuery.synchronized {
        val j = jobsOfQuery.toList
        jobsOfQuery.clear()
        j
      }
      val busy = unionNs(jobs.map { case (s, e) =>
        (math.max(fromEpochMs(s), start), math.min(fromEpochMs(e), end)) })
      val gap = math.max(0L, end - start - busy) / 1e9
      add("exec.driver_gap_s", gap)
      val after = snapshot()
      val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
      val kids = synchronized(spans.filter(_.parent == qSpan).toList)
      def dur(n: String) = kids.filter(_.name == n).map(s => s.end - s.start).sum / 1e9
      queries += QueryRecord(name, pass, start, end, dur("operators.build"),
        dur("exec.materialize"), gap, delta)
    }
  }
}

object Tracer {
  val PhaseKey = "graftbench.phase"
  val SpanKey = "graftbench.span"

  /** The counters the hooks feed. */
  val Counters: Seq[String] = Seq(
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s", "plans.query_executions",
    "operators.build_jobs", "exec.driver_gap_s",
    "streaming.queries_started", "streaming.batches", "streaming.startup_s",
    "streaming.batch_s", "streaming.add_batch_s", "streaming.query_planning_s",
    "streaming.wal_commit_s",
    "sources.fs_read_ops", "sources.fs_write_ops", "sources.fs_bytes_written",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "exec.straggler_s", "exec.failed_tasks",
    "sources.scan_bytes", "sources.scan_rows", "sources.output_bytes", "sources.output_rows")

  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)
  final case class QueryRecord(name: String, pass: Int, start: Long, end: Long,
      buildS: Double, materializeS: Double, driverGapS: Double,
      counters: Map[String, Double]) {
    def wallS: Double = (end - start) / 1e9
  }

  /** Total length covered by a set of possibly overlapping intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) {
        covered += e - math.max(s, reach)
        reach = e
      }
    }
    covered
  }

  /** Self time per span kind: a span's duration minus the part of it
    * its children cover. The kind is the name up to the first ':'. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name.takeWhile(_ != ':')).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val covered = unionNs(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end))))
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }
}
