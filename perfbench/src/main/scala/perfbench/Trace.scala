package perfbench

import java.io.PrintWriter

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans of the traced run: name, start, end, parent span and run id. They
  * stay in memory and are written once, when the run ends. With `on` false
  * a span only runs its body. */
final class Trace(val on: Boolean, runId: String) {
  private final case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = CountingDriver.epochMicros()
      try body
      finally {
        open = open.tail
        spans += Span(id, parent, name, t0, CountingDriver.epochMicros())
      }
    }

  /** One JSON object per line. */
  def write(path: String): Unit = if (on) {
    val w = new PrintWriter(path, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      w.println(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}""")
    } finally w.close()
  }
}

/** Engine counters from Spark's public listener bus. [[take]] returns the
  * totals since the previous call, so each phase reads its own share. */
final class EngineListener extends SparkListener {
  final case class Totals(jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskNanos: Long = 0,
      shuffleWriteBytes: Long = 0, spillBytes: Long = 0, gcMs: Long = 0,
      inputBytes: Long = 0, jobIntervals: List[(Long, Long)] = Nil)

  private var cur = Totals()
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = System.nanoTime()
    cur = cur.copy(jobs = cur.jobs + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { s =>
      cur = cur.copy(jobIntervals = (s, System.nanoTime()) :: cur.jobIntervals)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur = cur.copy(stages = cur.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) cur = cur.copy(
      tasks = cur.tasks + 1,
      taskNanos = cur.taskNanos + m.executorRunTime * 1000000L,
      shuffleWriteBytes = cur.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = cur.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      gcMs = cur.gcMs + m.jvmGCTime,
      inputBytes = cur.inputBytes + m.inputMetrics.bytesRead)
  }

  def take(): Totals = synchronized { val t = cur; cur = Totals(); t }
}

object EngineListener {
  /** Wall time of [t0, t1] not covered by any job interval. */
  def driverGapNanos(t0: Long, t1: Long, jobs: List[(Long, Long)]): Long = {
    var covered = 0L
    var reach = t0
    jobs.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    (t1 - t0) - covered
  }
}

/** Per-micro-batch progress of the tail from Spark's public streaming
  * listener: input rows and the `durationMs` phases. */
final class StreamListener extends StreamingQueryListener {
  final case class Batch(rows: Long, durations: Map[String, Long])
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
      .map { case (k, v) => k -> v.longValue }.toMap
    batches.add(Batch(p.numInputRows, d))
  }
}
