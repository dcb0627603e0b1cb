package graft.bench.perf

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run event store. Every listener below appends here; nothing is
  * aggregated until the run ends, so the hot path of a traced op is one
  * queue append per event. Listeners fire on Spark's asynchronous bus, so
  * events carry their own timestamps (epoch ms) and are attributed to ops
  * afterwards: jobs by the job group the benchmark thread sets per op,
  * everything else by the op's time interval (one client, one op at a
  * time, so intervals do not overlap).
  */
object Trace {
  final case class Job(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, durMs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, readBytes: Long,
      records: Long, written: Long)
  final case class SqlExec(id: Long, start: Long, var end: Long)
  final case class Phases(start: Long, analysis: Long, optimization: Long, planning: Long)
  final case class Batch(start: Long, durMs: Long)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val sqlExecs = new java.util.concurrent.ConcurrentHashMap[Long, SqlExec]()
  val phases = new ConcurrentLinkedQueue[Phases]()
  val batches = new ConcurrentLinkedQueue[Batch]()

  /** Job group of the bus-drain marker job (see [[drain]]). */
  val DrainGroup = "perfbench-drain"

  def jobsOf(group: String): Seq[Job] = jobs.values.asScala.filter(_.group == group).toSeq

  /** Block until the listener bus has delivered every event posted
    * before this call: a marker job's end event is queued behind them.
    */
  def drain(sc: org.apache.spark.SparkContext): Unit = {
    sc.setJobGroup(DrainGroup, "drain")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 20000
    while (System.currentTimeMillis() < deadline &&
        !jobsOf(DrainGroup).exists(_.end > 0)) Thread.sleep(20)
    Thread.sleep(200) // the SQL and streaming listener queues run beside this one
  }
}

/** Spans of a traced run, kept in memory and written out once at the end:
  * one JSON line each, carrying the id of the op that caused it. Times are
  * epoch microseconds.
  */
final class Spans {
  private val sb = new StringBuilder
  var count = 0
  private val base = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  def nowUs(): Long = base + System.nanoTime() / 1000
  def add(op: String, name: String, kind: String, startUs: Long, endUs: Long): Unit = {
    sb.append(s"""{"op":"$op","name":"$name","kind":"$kind","start_us":$startUs,"end_us":$endUs}""")
      .append('\n')
    count += 1
  }
  def write(path: String): Unit =
    if (path.nonEmpty) java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
}

/** SparkContext-level listener: jobs, stages, tasks and SQL executions of
  * every session of the application, child sessions included.
  */
final class SparkTraceListener extends SparkListener {
  import Trace._

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, group, e.time, 0L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime,
      e.taskInfo.duration, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlExecs.put(s.executionId, SqlExec(s.executionId, s.time, 0L))
    case s: SparkListenerSQLExecutionEnd =>
      Option(sqlExecs.get(s.executionId)).foreach(_.end = s.time)
    case _ =>
  }
}

/** Catalyst phase times of every action, registered through
  * `spark.sql.queryExecutionListeners` so each session gets one.
  */
final class PhaseTraceListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def d(n: String) = p.get(n).map(_.durationMs).getOrElse(0L)
    val start = if (p.isEmpty) System.currentTimeMillis() else p.values.map(_.startTimeMs).min
    Trace.phases.add(Trace.Phases(start, d("analysis"), d("optimization"), d("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Micro-batch progress of every streaming query, registered through
  * `spark.sql.streaming.streamingQueryListeners`.
  */
final class StreamTraceListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val start =
      try java.time.Instant.parse(p.timestamp).toEpochMilli
      catch { case _: Exception => System.currentTimeMillis() - p.batchDuration }
    Trace.batches.add(Trace.Batch(start, p.batchDuration))
  }
}
