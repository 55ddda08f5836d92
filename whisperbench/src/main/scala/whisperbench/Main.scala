package whisperbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  * Main --workload <live|corpus-dedup> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir> [--spans <file>]
  * }}}
  *
  * The last line on stdout is the result record. With `--trace 0` it
  * carries the end-to-end metrics; with `--trace 1` the per-layer metrics,
  * and the spans are written to `--spans` when the run ends. The line
  * before it (`"detail"`) carries the workload's own named figures.
  * The exit code is 1 when a correctness check failed.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: java.io.File, spans: Option[String])

  /** Spark local[n]: one worker thread per core, at most four. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new java.io.File(need("work")), kv.get("spans"))
  }

  def session(o: Opts): SparkSession = {
    val local = new java.io.File(o.work, "spark-local")
    local.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("whisperbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(o.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val tracer = new Tracer(o.trace)
    val spark = session(o)
    if (o.trace) spark.sparkContext.addSparkListener(tracer.listener)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val host = new Host(spark)
    val env = Env(spark, tracer, o.seed, o.seconds, o.work, sessionS)
    val outcome = o.workload match {
      case "live"         => Live.run(env)
      case "corpus-dedup" => CorpusDedup.run(env)
      case w => sys.error(s"unknown workload $w")
    }
    host.finish()
    tracer.drain(spark)

    val detail = outcome.detail ++ host.layers ++ Map(
      "setup_s" -> outcome.setupS, "session_s" -> sessionS,
      "peak_rss_mb" -> Host.peakRssMb(), "ops" -> outcome.opMs.size, "op_ms" -> outcome.opMs,
      "failed_ops_ratio" -> outcome.failed.toDouble / math.max(1, outcome.attempted))
    println(Json.obj("detail" -> detail))
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", outcome.setupS, "s"),
        ("op_p50_ms", Stats.quantile(outcome.opMs, 0.5), "ms"),
        ("peak_rss_mb", Host.peakRssMb(), "MB"))
      else {
        val ops = tracer.spans.filter(_.layer == "op").toSeq
        val layers = outcome.layers(tracer) ++ SparkTotals.perOp(tracer, ops) ++
          host.layers ++ Map("trace.overhead_ratio" -> tracer.overheadSeconds / outcome.timedS)
        o.spans.foreach(p => tracer.writeSpans(java.nio.file.Paths.get(p)))
        PerLayer.All.map { case (name, unit) => (name, layers.getOrElse(name, 0.0), unit) }
      }
    println(Json.obj(
      "correct" -> outcome.correct,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap))
    System.out.flush()
    spark.stop()
    sys.exit(if (outcome.correct) 0 else 1)
  }
}

/** What every workload gets. `work` is the run's own empty directory. */
final case class Env(spark: SparkSession, tracer: Tracer, seed: Long, seconds: Double,
                     work: java.io.File, sessionS: Double)

/** What every workload returns. `opMs` are the latencies of the timed ops,
  * `layers` turns the recorded spans into per-layer metrics.
  */
final case class Outcome(setupS: Double, timedS: Double, opMs: Seq[Double],
                         attempted: Long, failed: Long, correct: Boolean,
                         detail: Map[String, Any],
                         layers: Tracer => Map[String, Double])

object Stats {
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile with at least ten samples above it, as
    * (percentile, value); None below eleven samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    val p = (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n) >= 10)
    p.map(pc => (pc, quantile(xs, pc / 100.0)))
  }

  /** Named p50 and tail figures for one op type. */
  def latency(prefix: String, xs: Seq[Double]): Map[String, Any] = {
    val t = tail(xs)
    Map(s"${prefix}_p50_ms" -> median(xs), s"${prefix}_samples" -> xs.size) ++
      t.map { case (p, v) => Map(s"${prefix}_tail_ms" -> v, s"${prefix}_tail_percentile" -> p) }
        .getOrElse(Map.empty)
  }
}
