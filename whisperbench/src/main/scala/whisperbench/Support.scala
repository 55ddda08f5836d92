package whisperbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Host-speed stamp and process figures. The calibration job is a fixed
  * CPU-bound Spark pipeline (no IO, no shuffle), timed as the median of
  * three after the timed phase; with `/proc/loadavg` at start and end it
  * lets runs taken at different host speeds be told apart. A record only.
  */
final class Host(spark: SparkSession) {
  val loadStart: Double = Host.loadavg()
  private var loadEnd = -1.0
  private var calS = -1.0

  def finish(): Unit = {
    def one(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 20000000L, 1, 32).selectExpr("sum(id % 7)", "max(id * 3)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    calS = Stats.median(Seq(one(), one(), one()))
    loadEnd = Host.loadavg()
  }

  def layers: Map[String, Double] =
    Map("host.cal_s" -> calS, "host.loadavg_start" -> loadStart, "host.loadavg_end" -> loadEnd)
}

object Host {
  def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").head.toDouble
    catch { case _: Throwable => -1.0 }

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  /** Parquet data files under a directory: name → size. */
  def dataFiles(dir: java.io.File): Map[String, Long] = {
    val out = mutable.HashMap.empty[String, Long]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.getName.endsWith(".parquet")) out(f.getPath) = f.length()
    walk(dir)
    out.toMap
  }
}

/** Accumulates correctness verdicts; the first few failures go to stderr. */
final class Checks {
  private var failures = 0
  def ok: Boolean = failures == 0
  def expect(cond: Boolean, what: => String): Unit =
    if (!cond) {
      failures += 1
      if (failures <= 5) System.err.println(s"[whisperbench] check failed: $what")
    }
}

/** The closed loop: one client, the next op starts when the previous one
  * ended. Each op returns its own latency in ms (checks excluded); an op
  * that throws counts as failed.
  */
object Loop {
  final case class Timed(opMs: Seq[Double], timedS: Double, attempted: Long, failed: Long,
                         gcS: Double)

  def closed(env: Env, name: String, minOps: Int)(op: => Double): Timed = {
    val lat = mutable.ArrayBuffer.empty[Double]
    var failed = 0L
    var i = 0
    val gc0 = Host.gcSeconds()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (i < minOps || elapsed < env.seconds) {
      env.tracer.newOp()
      try lat += env.tracer.span("op", name)(op)
      catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[whisperbench] $name op $i failed: $e")
          if (failed <= 2) e.printStackTrace()
      }
      i += 1
    }
    Timed(lat.toSeq, elapsed, i.toLong, failed, Host.gcSeconds() - gc0)
  }
}

/** Spark counters per timed op, from the jobs submitted inside the op
  * spans and outside their `check` spans.
  */
object SparkTotals {
  def perOp(t: Tracer, ops: Seq[Tracer.Span]): Map[String, Double] = {
    val checks = t.spans.filter(_.layer == "check").toSeq
    val jobs = ops.flatMap(t.jobsWithin).filterNot(j =>
      checks.exists(c => j.startMs * 1000L >= c.startMicros / 1000L * 1000L &&
        j.startMs * 1000L <= c.endMicros))
    val n = math.max(1, ops.size).toDouble
    Map(
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> jobs.map(_.stagesRun).sum / n,
      "spark.tasks" -> jobs.map(_.tasks).sum / n,
      "spark.task_s" -> jobs.map(_.taskNanos).sum / 1e9 / n,
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWriteBytes).sum / n,
      "spark.shuffle_read_bytes" -> jobs.map(_.shuffleReadBytes).sum / n)
  }
}

/** Every per-layer metric a traced run prints, with its unit. A layer the
  * workload leaves idle reads 0.
  */
object PerLayer {
  val All: Seq[(String, String)] = Seq(
    "store.update_many.jobs" -> "count",
    "store.update_many.write_jobs" -> "count",
    "store.update_many.job_s" -> "s",
    "store.update_many.driver_s" -> "s",
    "store.update_many.files_written" -> "count",
    "store.update_many.bytes_written_per_user_byte" -> "ratio",
    "store.fetch.jobs" -> "count",
    "store.fetch.tasks" -> "count",
    "store.fetch.driver_s" -> "s",
    "store.fetch.input_records_per_value" -> "ratio",
    "store.fetch_frame.jobs" -> "count",
    "store.fetch_frame.input_records_per_value" -> "ratio",
    "store.files_total" -> "count",
    "store.bytes_total" -> "B",
    "ops.ingest.route_s" -> "s",
    "ops.ingest.rows_out_per_row_in" -> "ratio",
    "ops.rollup.cascade_s" -> "s",
    "ops.fetch.grid_s" -> "s",
    "plans.plan_s" -> "s",
    "plans.substituted_ratio" -> "ratio",
    "plans.view_refresh_s" -> "s",
    "ext.exact_groups_s" -> "s",
    "ext.minhash_s" -> "s",
    "ext.components_s" -> "s",
    "ext.verified_per_candidate" -> "ratio",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_s" -> "s",
    "spark.shuffle_write_bytes" -> "B",
    "spark.shuffle_read_bytes" -> "B",
    "spark.gc_s" -> "s",
    "host.cal_s" -> "s",
    "host.loadavg_start" -> "load",
    "host.loadavg_end" -> "load",
    "trace.overhead_ratio" -> "ratio")

  /** Per-call figures of one store entry point, medians over its calls. */
  def perCall(t: Tracer, name: String): Seq[(Tracer.Span, Seq[Tracer.Job])] =
    t.spans.filter(s => s.layer == "store" && s.name == name).toSeq.map(s => s -> t.jobsWithin(s))

  def jobSeconds(jobs: Seq[Tracer.Job]): Double =
    Tracer.unionSeconds(jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)))

  /** Median duration of one kind of span inside the timed ops. */
  def spanMedian(t: Tracer, layer: String, name: String): Double =
    Stats.median(t.spans.filter(s => s.layer == layer && s.name == name && s.op > 0)
      .map(_.seconds).toSeq)
}
