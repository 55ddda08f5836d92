package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.{ArchiveInfo, RetentionPolicy}

/** Per-job attribution for ingest evidence. Two modes:
  *
  *   - default: the bench's x00/x01 ingest phases over an sf dataset —
  *     every Spark job each phase fires, with its wall time and call
  *     site, so "x01 has more jobs than x00" is a list of named jobs, not
  *     a guess;
  *   - `flush`: a pre-filled 200-metric store (10s:6h,1m:7d,10m:1y,
  *     average, xff 0.5, 4 hash buckets), then one live-style flush —
  *     every metric's last minute at 10 s plus four late points routed to
  *     the 1m and 10m levels — once per cascade regime (the driver-planned
  *     cascade and the Spark cascade, on identical stores). Prints the
  *     flush's jobs grouped by description tag (`graft.store.read/write
  *     level=i`; untagged = routing, stats and collects) and then each
  *     job with its call site.
  *
  * Usage: runMain graft.tools.IngestJobs [sfDir]
  *        runMain graft.tools.IngestJobs flush
  */
object IngestJobs {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      if (args.headOption.contains("flush")) "4" else "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new Jobs(spark)
    if (args.headOption.contains("flush")) flushPhases(spark, jobs)
    else ingestPhases(spark, jobs, args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")))
    spark.stop()
  }

  /** Listener keeping (job id, description, call site, seconds) per job. */
  private final class Jobs(spark: SparkSession) {
    private val started = new java.util.concurrent.ConcurrentHashMap[Int, (String, String, Long)]()
    private val done = scala.collection.mutable.Buffer.empty[(Int, String, String, Double)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(j.stageInfos.lastOption.map(s =>
            s.name + " <- " + j.stageInfos.map(_.name.takeWhile(_ != ' ')).mkString(",")))
          .getOrElse("?")
        val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        started.put(j.jobId, (desc, site, System.nanoTime())); ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(started.get(j.jobId)).foreach { case (desc, site, t0) =>
          done.synchronized {
            done += ((j.jobId, desc, site, (System.nanoTime() - t0) / 1e9)); ()
          }
        }
      }
    })

    /** Runs `f`, then returns its wall seconds and the jobs it fired. */
    def record(f: => Unit): (Double, Seq[(Int, String, String, Double)]) = {
      done.synchronized(done.clear())
      val t0 = System.nanoTime()
      f
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // drain listener bus
      (dt, done.synchronized(done.toSeq).sortBy(_._1))
    }
  }

  private def ingestPhases(spark: SparkSession, jobs: Jobs, sfDir: String): Unit = {
    val metrics = Seq("click", "view", "signup", "error", "purchase")
    val policy = RetentionPolicy(
      Seq(ArchiveInfo(60, 50000), ArchiveInfo(300, 20000)), xff = 0.5f)
    val now = graft.queries.WhisperQueries.Now
    val lastDay = 1706486400L
    val ev = graft.queries.WhisperQueries.events(spark, sfDir)
      .select(col("metric"), col("tsec").as("ts"), col("value"), col("seq"))
      .cache()
    ev.count()
    // warmup pass (untimed, unprinted)
    locally {
      val wroot = java.nio.file.Files.createTempDirectory("ij-warm").toString
      val ws = new graft.store.MetricStore(spark, wroot, 8)
      ws.createAll(metrics, policy)
      ws.updateMany(ev.where(col("ts") < lastDay), now)
      ws.updateMany(ev.where(col("ts") >= lastDay), now)
    }
    Thread.sleep(500)
    def phase(name: String)(f: => Unit): Unit = {
      val (dt, fired) = jobs.record(f)
      println(f"== $name: $dt%.3f s, ${fired.size} jobs")
      fired.foreach { case (id, _, site, sec) =>
        println(f"   job $id%3d $sec%7.3f s  $site")
      }
    }
    val root = java.nio.file.Files.createTempDirectory("ij").toString
    val store = new graft.store.MetricStore(spark, root, 8)
    store.createAll(metrics, policy)
    phase("x00_ingest_full")(store.updateMany(ev.where(col("ts") < lastDay), now))
    phase("x01_ingest_second_batch")(store.updateMany(ev.where(col("ts") >= lastDay), now))
  }

  private def flushPhases(spark: SparkSession, jobs: Jobs): Unit = {
    import spark.implicits._
    val metrics = (0 until 200).map(m => f"host$m%03d.cpu")
    val policy = RetentionPolicy.parse("10s:6h,1m:7d,10m:1y", xff = 0.5f)
    val now0 = 1700000000L / 600 * 600
    // the last hour at 10 s (level 0) and 14 h to 6 h 10 min ago at 60 s
    // (routed straight to the 1m level)
    val prefill = metrics.flatMap { m =>
      ((now0 - 14 * 3600L) until (now0 - 6 * 3600L - 600L) by 60L).map(t => (m, t)) ++
        ((now0 - 3600L) until now0 by 10L).map(t => (m, t))
    }.zipWithIndex.map { case ((m, t), i) => (m, t, (i % 97).toDouble, i.toLong) }
    // one carbon-style flush at `now`: every metric's last minute at 10 s
    // plus three 1m-level and one 10m-level late points
    def flush(now: Long) = {
      val rnd = new scala.util.Random(now)
      val recent = metrics.flatMap(m => (1 to 6).map(j => (m, now - j * 10L)))
      val late = Seq(8 * 3600L, 12 * 3600L, 20 * 3600L, 10 * 86400L)
        .map(age => (metrics(rnd.nextInt(metrics.size)), now - age - rnd.nextInt(600)))
      (recent ++ late).zipWithIndex
        .map { case ((m, t), i) => (m, t, rnd.nextInt(1000) / 10.0, i.toLong) }
        .toDF("metric", "ts", "value", "seq")
    }
    Seq("driver-planned" -> Long.MaxValue, "spark" -> 0L).foreach { case (regime, bound) =>
      val root = java.nio.file.Files.createTempDirectory(s"ij-flush-$regime").toString
      val store = new graft.store.MetricStore(spark, root, 4)
      store.driverCascadeBound = bound
      store.createAll(metrics, policy)
      store.updateMany(prefill.toDF("metric", "ts", "value", "seq"), now0)
      // two untimed warm-up flushes (code generation, JIT)
      store.updateMany(flush(now0 + 60), now0 + 60)
      store.updateMany(flush(now0 + 120), now0 + 120)
      Thread.sleep(500)
      val batch = flush(now0 + 180)
      val (dt, fired) = jobs.record(store.updateMany(batch, now0 + 180))
      println(f"== flush ($regime cascade): $dt%.3f s, ${fired.size} jobs")
      fired.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (tag, js) =>
        val label = if (tag.isEmpty) "(untagged)" else tag
        println(f"   ${js.size}%3d jobs ${js.map(_._4).sum}%7.3f job-s  $label")
      }
      fired.foreach { case (id, tag, site, sec) =>
        println(f"   job $id%4d $sec%7.3f s  ${if (tag.isEmpty) "-" else tag}  $site")
      }
    }
  }
}
