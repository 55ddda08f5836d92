package whisperbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into each engine layer,
  * plus the Spark listener events needed to attribute work to them.
  *
  * Spark jobs are attributed to spans by TIME WINDOW: a job belongs to the
  * innermost span that was open when it was submitted. A job-group tag
  * would not work, because `MetricStore` launches its writes from its own
  * `metricstore-write-*` pool threads, and those threads inherit Spark's
  * local properties from whichever thread first created them. The loop
  * has one client, so top-level spans never overlap and the time window
  * is unambiguous.
  *
  * When disabled, `span` only runs its body and the listener is not
  * installed.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val t0Nanos = System.nanoTime()
  private val t0Micros = System.currentTimeMillis() * 1000L

  /** Wall clock in epoch microseconds, monotonic within the run and on
    * the same epoch as Spark's listener timestamps (milliseconds).
    */
  def nowMicros(): Long = t0Micros + (System.nanoTime() - t0Nanos) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var opId = 0L
  private var bookkeepingNanos = 0L

  def newOp(): Unit = opId += 1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), opId,
        layer, name, nowMicros(), -1L)
      spans += s
      stack = s :: stack
      bookkeepingNanos += System.nanoTime() - b0
      try body
      finally {
        val b1 = System.nanoTime()
        s.endMicros = nowMicros()
        stack = stack.tail
        bookkeepingNanos += System.nanoTime() - b1
      }
    }

  /** Time the benchmark thread and the listener spent on tracing. */
  def overheadSeconds: Double = (bookkeepingNanos + listener.handlerNanos.get()) / 1e9

  val listener = new Listener

  /** Blocks until the listener has seen every job submitted so far. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    if (enabled) {
      val deadline = System.currentTimeMillis() + 30000L
      val tracker = spark.sparkContext.statusTracker
      def settled: Boolean = {
        val active = tracker.getActiveJobIds().toSet
        listener.synchronized(listener.jobs.values.forall(_.endMs >= 0)) && active.isEmpty &&
          listener.synchronized(listener.pendingTasks == 0)
      }
      while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(20)
      Thread.sleep(200)
    }

  /** Jobs submitted while `s` was the innermost open span. */
  def jobsOf(s: Span): Seq[Job] = {
    val inner = spans.filter(c => c.parent == s.id)
    listener.synchronized(listener.jobs.values.toSeq).filter { j =>
      val t = j.startMs * 1000L
      t >= s.startMicros / 1000L * 1000L && t <= s.endMicros &&
        !inner.exists(c => t >= c.startMicros / 1000L * 1000L && t <= c.endMicros)
    }
  }

  /** Jobs submitted anywhere inside `s`, nested spans included. */
  def jobsWithin(s: Span): Seq[Job] =
    listener.synchronized(listener.jobs.values.toSeq).filter { j =>
      val t = j.startMs * 1000L
      t >= s.startMicros / 1000L * 1000L && t <= s.endMicros
    }

  /** Writes one JSON line per span, then one per Spark job with the span
    * it was attributed to.
    */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    val owner = mutable.HashMap.empty[Int, Int]
    spans.foreach { s =>
      val jobs = jobsOf(s)
      jobs.foreach(j => owner(j.id) = s.id)
      sb ++= Json.obj(
        "kind" -> "span", "id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "start_us" -> s.startMicros,
        "end_us" -> s.endMicros, "jobs" -> jobs.size, "tasks" -> jobs.map(_.tasks).sum,
        "input_records" -> jobs.map(_.inputRecords).sum,
        "bytes_written" -> jobs.map(_.bytesWritten).sum) += '\n'
    }
    listener.synchronized(listener.jobs.values.toSeq).foreach { j =>
      sb ++= Json.obj(
        "kind" -> "job", "id" -> j.id, "span" -> owner.getOrElse(j.id, -1),
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stagesRun,
        "tasks" -> j.tasks, "task_s" -> j.taskNanos / 1e9,
        "shuffle_write_bytes" -> j.shuffleWriteBytes, "bytes_written" -> j.bytesWritten,
        "description" -> j.description) += '\n'
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Long, layer: String, name: String,
                        startMicros: Long, var endMicros: Long) {
    def seconds: Double = (endMicros - startMicros) / 1e6
  }

  /** One Spark job and the task counters summed over its stages. */
  final class Job(val id: Int, val startMs: Long, val description: String) {
    var endMs: Long = -1L
    var tasks = 0L
    var taskNanos = 0L
    var inputRecords = 0L
    var bytesWritten = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var stagesRun = 0
  }

  /** Listener that keeps per-job counters in memory. */
  final class Listener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    var pendingTasks = 0L
    val handlerNanos = new java.util.concurrent.atomic.AtomicLong

    private def timed(body: => Unit): Unit = {
      val t = System.nanoTime()
      synchronized(body)
      handlerNanos.addAndGet(System.nanoTime() - t)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val desc = Option(e.properties).map(_.getProperty("spark.job.description", ""))
        .getOrElse("")
      val j = new Job(e.jobId, e.time, if (desc == null) "" else desc)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobs(e.jobId) = j
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      for (jid <- stageJob.get(e.stageInfo.stageId); j <- jobs.get(jid)) j.stagesRun += 1
    }

    override def onTaskStart(e: SparkListenerTaskStart): Unit = timed {
      pendingTasks += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      pendingTasks -= 1
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.taskNanos += m.executorRunTime * 1000000L
          j.inputRecords += m.inputMetrics.recordsRead
          j.bytesWritten += m.outputMetrics.bytesWritten
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        }
      }
    }
  }

  /** Length of the union of [start, end] intervals, in seconds. */
  def unionSeconds(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }
}
