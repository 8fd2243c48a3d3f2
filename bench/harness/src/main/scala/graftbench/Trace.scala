package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans recorded in memory and written when the run ends. Times are
  * wall-clock milliseconds (`System.currentTimeMillis` scale, fractional),
  * so they line up with Spark's own listener timestamps. */
final case class Span(name: String, start: Double, end: Double,
    attrs: Map[String, String] = Map.empty) {
  def ms: Double = end - start
  def iv: (Double, Double) = (start, end)
}

object Clock {
  private val base = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  /** Wall-clock milliseconds with nanoTime resolution. */
  def nowMs: Double = base + System.nanoTime() / 1e6
}

/** CPU time of the JVM's Java threads: the driver, Spark's task, scheduler
  * and streaming threads, the servers. JIT compiler and GC threads are not
  * Java threads and are left out. CPU time does not advance while the host
  * runs other guests or processes, so unlike wall time it measures the
  * work done rather than the share of the machine the run was given. */
object AppCpu {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean

  /** Thread id to CPU nanoseconds, for the live threads. */
  def snapshot(): Map[Long, Long] =
    mx.getAllThreadIds.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** Milliseconds of CPU the live threads have used since they started. */
  def totalMs(): Double = snapshot().values.sum / 1e6

  /** Milliseconds of CPU used since `before`, leaving out `exclude`. */
  def sinceMs(before: Map[Long, Long], exclude: Set[Long] = Set.empty): Double =
    Stats.cpuDelta(before, snapshot() -- exclude) / 1e6
}

/** Records spans around calls into the library. Off means `span` is a
  * plain call, so untraced runs pay nothing beyond a branch. */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]

  def span[A](name: String, attrs: Map[String, String] = Map.empty)(f: => A): A =
    if (!on) f
    else {
      val s = Clock.nowMs
      try f
      finally { val e = Clock.nowMs; synchronized(spans += Span(name, s, e, attrs)) }
    }

  def add(sp: Span): Unit = if (on) synchronized(spans += sp)
  def all: Seq[Span] = synchronized(spans.toList)
}

/** What Spark's public scheduler listener reports, kept per job, stage and
  * task so any window of the run can be totalled afterwards. */
final class SchedListener extends SparkListener {
  case class Job(id: Int, start: Double, var end: Double, streamingQuery: Option[String],
      stageIds: Seq[Int])
  case class Stage(id: Int, attempt: Int, start: Double, end: Double, tasks: Int)
  case class Task(stageId: Int, durationMs: Double, runMs: Double,
      cpuMs: Double, deserMs: Double, gcMs: Double, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, inputRows: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val q = Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    jobs(e.jobId) = Job(e.jobId, e.time.toDouble, Double.NaN, q, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages += Stage(i.stageId, i.attemptNumber(), s.toDouble, c.toDouble, i.numTasks)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.duration.toDouble, m.executorRunTime.toDouble,
      m.executorCpuTime / 1e6, m.executorDeserializeTime.toDouble, m.jvmGCTime.toDouble,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead)
  }

  def snapshot: (Seq[Job], Seq[Stage], Seq[Task]) = synchronized {
    (jobs.values.map(_.copy()).toList, stages.toList, tasks.toList)
  }
}

/** Scheduler totals over the jobs that started inside a time window. */
object SchedTotals {
  def apply(l: SchedListener, from: Double, to: Double, cores: Int,
      keepJob: SchedListener#Job => Boolean = _ => true): Map[String, Double] = {
    val (jobs0, stages0, tasks0) = l.snapshot
    val jobs = jobs0.filter(j => j.start >= from && j.start <= to && keepJob(j))
    val stageIds = jobs.flatMap(_.stageIds).toSet
    val stages = stages0.filter(s => stageIds(s.id))
    val tasks = tasks0.filter(t => stageIds(t.stageId))
    val gap = jobs.map { j =>
      val end = if (j.end.isNaN) to else j.end
      Stats.selfTime((j.start, end), stages.filter(s => j.stageIds.contains(s.id)).map(s => (s.start, s.end)))
    }.sum
    val wall = math.max(to - from, 1e-9)
    Map(
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> stages.size.toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.gap_ms" -> gap,
      "sched.slot_busy_frac" -> tasks.map(_.durationMs).sum / (wall * cores),
      "exec.task_run_ms" -> tasks.map(_.runMs).sum,
      "exec.task_cpu_ms" -> tasks.map(_.cpuMs).sum,
      "exec.task_deser_ms" -> tasks.map(_.deserMs).sum,
      "exec.gc_ms" -> tasks.map(_.gcMs).sum,
      "exec.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "exec.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "exec.input_rows" -> tasks.map(_.inputRows).sum.toDouble)
  }

  /** Job intervals that started inside a window (for driver-gap and
    * span coverage arithmetic). */
  def jobIntervals(l: SchedListener, from: Double, to: Double): Seq[(Double, Double)] =
    l.snapshot._1.filter(j => j.start >= from && j.start <= to)
      .map(j => (j.start, if (j.end.isNaN) to else j.end))
}

/** Streaming progress as Spark's public query listener delivers it. */
final class ProgressListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  @volatile var terminatedWith: Option[String] = None
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(progress += e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminatedWith = e.exception.orElse(Some(""))
  def all: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = synchronized(progress.toList)
}
