package whisperbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.Engine
import graft.ops.{Fetch, Ingest, Rollup}
import graft.store.MetricStore

/** `live`: writes beside reads on a pre-filled store.
  *
  * Set-up backfills a fresh store: 14 hours of history, at 60 s up to 6 h
  * ago (routed straight to the 1m level) and at 10 s for the last hour,
  * with duplicates and gaps, through ONE `updateMany`. That is the bulk
  * path of fresh-level writes and the full rollup cascade; its cost shows
  * in `setup_s`.
  *
  * Each tick (one op of the closed loop) then advances the clock one minute
  * and runs
  *   - one carbon-style flush through `updateMany`: every metric's last
  *     minute at 10 s, plus a few late points that route to the 1m and
  *     10m levels;
  *   - single-metric `fetch`es: three over recent level-0 ranges, one over
  *     half a day (served by the 1m level);
  *   - one 10-metric `fetchFrame` over the last half hour;
  *   - one rollup SQL query over the `Engine.install` views, after the
  *     views are registered again (see the notes on stale views).
  * Every result is checked against the plain-Scala model.
  */
object Live {
  val Metrics = 200
  val RecentS = 3600L
  val OldFromS = 14 * 3600L
  val OldToS = 6 * 3600L + 600L
  val WarmTicks = 2
  val RecentFetches = 3
  val FrameMetrics = 10
  val FrameS = 1800L
  val Prefix = "live"

  /** Pre-fill of one metric: older history at 60 s, which routes straight
    * to the 1m level, and the last hour at 10 s.
    */
  def prefillSeries(seed: Long, now0: Long, m: Int): Array[Points.Pt] =
    Points.series(seed, m, now0 - OldFromS, now0 - OldToS, m.toLong << 32,
      gapStart = 0.01, maxGap = 10, dupShare = 0.05, cadence = 60) ++
      Points.series(seed, m, now0 - RecentS, now0, (m.toLong << 32) + (1L << 31),
        gapStart = 0.01, maxGap = 60, dupShare = 0.05)

  def run(env: Env): Outcome = {
    import env.spark.implicits._
    val spark = env.spark
    val t = env.tracer
    val checks = new Checks
    val metrics = (0 until Metrics).map(Points.metricName)
    val seed = env.seed
    val now0 = 1700000000L / 600 * 600 + Math.floorMod(Points.mix(seed + 1), 100000L) * 600

    // set-up: a backfill of the pre-fill history into a fresh store by one
    // updateMany (the bulk write path), its model, then the views
    val s0 = System.nanoTime()
    val store = new MetricStore(spark, new java.io.File(env.work, "store").getAbsolutePath,
      Points.Buckets)
    store.createAll(metrics, Points.Policy)
    val prefill = spark.range(0, Metrics, 1, 8).as[Long]
      .flatMap(m => prefillSeries(seed, now0, m.toInt)).toDF("metric", "ts", "value", "seq")
    val p0 = System.nanoTime()
    t.span("store", "update_many")(store.updateMany(prefill, now0))
    val prefillUpdateS = (System.nanoTime() - p0) / 1e9
    val model = new Points.Model
    var tickNo = 0
    val prefillPoints = (0 until Metrics).map { m =>
      val pts = prefillSeries(seed, now0, m)
      model.apply(pts, now0)
      pts.length
    }.sum
    Engine.install(spark, store, Prefix)
    val prefillS = (System.nanoTime() - s0) / 1e9

    val lat = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    def record(kind: String, ms: Double): Unit =
      lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty[Double]) += ms
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    }
    val filesWritten = mutable.ArrayBuffer.empty[Double]
    val fetchValues = mutable.ArrayBuffer.empty[Double]
    var substituted = 0
    var queries = 0
    val flushPoints = mutable.ArrayBuffer.empty[Double]
    var lastNow = now0

    def expectedFetch(metric: String, from: Long, until: Long, now: Long)
        : (Int, Long, Long, Seq[Option[Double]]) = {
      val age = now - from
      val level = Points.Retentions.indexWhere(_ >= age) match { case -1 => 2; case l => l }
      val step = Points.Steps(level)
      val fromI = from - Math.floorMod(from, step) + step
      val untilI0 = until - Math.floorMod(until, step) + step
      val untilI = if (untilI0 == fromI) fromI + step else untilI0
      val data = model.metrics(metric).data(level)
      (level, fromI, untilI, (fromI until untilI by step).map(data.get))
    }

    def sameValues(level: Int, got: Seq[Option[Double]], want: Seq[Option[Double]]): Boolean =
      got.size == want.size && got.zip(want).forall {
        case (Some(a), Some(b)) => if (level == 0) a == b else Points.close(a, b)
        case (a, b) => a == b
      }

    /** One tick; returns its latency in ms (checks excluded). */
    def tick(timedTick: Boolean): Double = {
      tickNo += 1
      val now = now0 + 60L * tickNo
      val r = Points.rng(seed, 0x71C4L, tickNo.toLong)
      val seqBase = tickNo.toLong << 40
      val fresh = (0 until Metrics).flatMap { m =>
        Points.series(seed, m, now - 60, now, seqBase + (m.toLong << 20),
          gapStart = 0.05, maxGap = 3, dupShare = 0.05)
      }
      // late points: three for the 1m level, one for the 10m level
      val late = (0 until 4).map { k =>
        val age = if (k < 3) 8 * 3600L + r.nextInt(16 * 3600) else 8 * 86400L + r.nextInt(12 * 86400)
        Points.Pt(metrics(r.nextInt(Metrics)), now - age, r.nextInt(1000000) / 100.0,
          seqBase + (1L << 39) + k)
      }
      val batch = fresh ++ late
      val df = batch.toDF("metric", "ts", "value", "seq")
      val before = if (t.enabled) Host.dataFiles(new java.io.File(store.root)).keySet else Set.empty[String]
      val (_, flushMs) = timed(t.span("store", "update_many")(store.updateMany(df, now)))
      if (t.enabled && timedTick)
        filesWritten += Host.dataFiles(new java.io.File(store.root)).keySet.diff(before).size
      model.apply(batch, now)
      if (timedTick) flushPoints += batch.size
      lastNow = now

      var total = flushMs
      if (timedTick) record("flush", flushMs)

      // single-metric fetches: recent ranges on level 0, half a day on level 1
      (0 to RecentFetches).foreach { k =>
        val metric = metrics(r.nextInt(Metrics))
        val (from, until) =
          if (k < RecentFetches) (now - 600 - r.nextInt(2400), now - r.nextInt(120))
          else (now - 12 * 3600 + r.nextInt(3600), now - r.nextInt(3600))
        val (res, ms) = timed(t.span("store", "fetch")(store.fetch(metric, from, until, now)))
        total += ms
        if (timedTick) {
          record("fetch", ms)
          fetchValues += res.map(_.values.size.toDouble).getOrElse(0.0)
        }
        t.span("check", "fetch") {
          val (level, fi, ui, want) = expectedFetch(metric, from, until, now)
          checks.expect(res.exists(f => f.fromInterval == fi && f.untilInterval == ui &&
            f.step == Points.Steps(level) && sameValues(level, f.values, want)),
            s"fetch $metric [$from, $until) at $now (level $level) differs from the model")
        }
      }

      // one multi-metric read
      val picked = r.ints(FrameMetrics * 3L, 0, Metrics).toArray.distinct.take(FrameMetrics)
        .map(metrics(_)).toSeq
      val (rows, frameMs) = timed(t.span("store", "fetch_frame") {
        store.fetchFrame(picked, now - FrameS, now, now).get.collect()
      })
      total += frameMs
      if (timedTick) record("multi_fetch", frameMs)
      t.span("check", "fetch_frame") {
        val got = rows.map(x => (x.getString(0), x.getLong(1)) ->
          (if (x.isNullAt(2)) None else Some(x.getDouble(2)))).toMap
        val ok = got.size == rows.length && picked.forall { m =>
          val (_, fi, ui, want) = expectedFetch(m, now - FrameS, now, now)
          (fi until ui by Points.Steps(0)).zip(want).forall { case (iv, w) =>
            got.get((m, iv)).contains(w)
          }
        } && rows.length == picked.size * ((FrameS / Points.Steps(0)).toInt)
        checks.expect(ok, s"fetchFrame of ${picked.size} metrics at $now differs from the model")
      }

      // rollup SQL over the installed views; the views are registered again
      // first, because a view keeps the file listing it was created with
      val (_, refreshMs) = timed(t.span("plans", "view_refresh")(store.registerViews(Prefix)))
      val hi = now - Math.floorMod(now, 60L)
      val lo = hi - FrameS
      val sql =
        s"""SELECT metric, interval - interval % 60 AS interval, avg(value) AS value
           |FROM ${Prefix}_level_0 WHERE interval >= $lo AND interval < $hi
           |GROUP BY 1, 2""".stripMargin
      val (q, planMs) = timed(t.span("plans", "plan") {
        val q = spark.sql(sql)
        q.queryExecution.executedPlan
        q
      })
      val (qRows, execMs) = timed(t.span("plans", "execute")(q.collect()))
      val queryMs = refreshMs + planMs + execMs
      total += queryMs
      if (timedTick) {
        record("rollup_query", queryMs)
        record("view_refresh", refreshMs)
        queries += 1
        val scans = q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
        if (scans.contains("/level_1") || scans.contains("/level_2")) substituted += 1
      }
      t.span("check", "rollup_query") {
        val want = model.metrics.toSeq.flatMap { case (m, lv) =>
          lv.data(0).toSeq.filter { case (iv, _) => iv >= lo && iv < hi }
            .groupBy { case (iv, _) => iv - Math.floorMod(iv, 60L) }
            .map { case (w, xs) => (m, w) -> xs.map(_._2).sum / xs.size }
        }.toMap
        val got = qRows.map(x => (x.getString(0), x.getLong(1)) -> x.getDouble(2)).toMap
        checks.expect(got.size == qRows.length && got.keySet == want.keySet &&
          got.forall { case (k, v) => Points.close(v, want(k)) },
          s"rollup query at $now: ${got.size} windows vs ${want.size} in the model")
      }
      total
    }

    val w0 = System.nanoTime()
    (0 until WarmTicks).foreach(_ => tick(timedTick = false))
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = env.sessionS + prefillS + warmS

    val loop = Loop.closed(env, "tick", minOps = 3)(tick(timedTick = true))

    val (files, bytes) = {
      val f = Host.dataFiles(new java.io.File(store.root))
      (f.size.toDouble, f.values.sum.toDouble)
    }
    val userBytes = 12.0 * Points.Steps.indices.map(model.rows).sum
    val detail = Map[String, Any]("workload" -> "live", "bytes_per_user_byte" -> bytes / userBytes,
      "ticks" -> loop.opMs.size, "prefill_points" -> prefillPoints,
      "ingest_points_per_s" -> prefillPoints / prefillUpdateS,
      "setup_prefill_s" -> prefillS, "setup_warmup_s" -> warmS) ++
      Seq("flush", "fetch", "multi_fetch", "rollup_query", "view_refresh")
        .flatMap(k => Stats.latency(k, lat.getOrElse(k, Nil).toSeq))

    def layers(tr: Tracer): Map[String, Double] = {
      def timedCalls(name: String) = PerLayer.perCall(tr, name).filter(_._1.op > 0)
      val flushes = timedCalls("update_many")
      val fetches = timedCalls("fetch")
      val frames = timedCalls("fetch_frame")
      // ops probes on this workload's own input (the pre-fill batch),
      // outside the timed loop
      val policy = Points.Policy
      val input = prefill.cache()
      val inputRows = input.count().toDouble
      def probe(name: String)(body: => Unit): Double = Stats.median((0 until 3).map { _ =>
        val t0 = System.nanoTime()
        tr.span("ops", name)(body)
        (System.nanoTime() - t0) / 1e9
      })
      val routeS = probe("route_and_dedup") {
        Ingest.routeAndDedup(input, policy, now0).write.format("noop").mode("overwrite").save()
      }
      val routed = Ingest.routeAndDedup(input, policy, now0).cache()
      val routedRows = routed.count().toDouble
      val level0 = routed.where(col("level") === 0).select("metric", "interval", "value")
      val cascadeS = probe("cascade") {
        Rollup.cascade(level0, policy).foreach(_.write.format("noop").mode("overwrite").save())
      }
      val gridS = probe("fetch_grid") {
        Fetch.fetchGrid(spark, store.levelData(0).select("metric", "interval", "value"),
          Seq(metrics(0)), lastNow - 3600, lastNow, Points.Steps(0)).collect()
      }
      routed.unpersist(); input.unpersist()
      val frameValues = FrameMetrics * (FrameS / Points.Steps(0)).toDouble
      Map(
        "store.update_many.jobs" -> Stats.median(flushes.map(_._2.size.toDouble)),
        "store.update_many.write_jobs" -> Stats.median(flushes.map(
          _._2.count(_.description.startsWith("graft.store.write")).toDouble)),
        "store.update_many.job_s" -> Stats.median(flushes.map(c => PerLayer.jobSeconds(c._2))),
        "store.update_many.driver_s" -> Stats.median(flushes.map(c =>
          c._1.seconds - PerLayer.jobSeconds(c._2))),
        "store.update_many.files_written" -> Stats.median(filesWritten.toSeq),
        "store.update_many.bytes_written_per_user_byte" -> Stats.median(
          flushes.zip(flushPoints).map { case ((_, jobs), n) =>
            jobs.map(_.bytesWritten).sum / (12.0 * n)
          }),
        "store.fetch.jobs" -> Stats.median(fetches.map(_._2.size.toDouble)),
        "store.fetch.tasks" -> Stats.median(fetches.map(_._2.map(_.tasks).sum.toDouble)),
        "store.fetch.driver_s" -> Stats.median(fetches.map(c =>
          c._1.seconds - PerLayer.jobSeconds(c._2))),
        "store.fetch.input_records_per_value" ->
          fetches.map(_._2.map(_.inputRecords).sum).sum / math.max(1.0, fetchValues.sum),
        "store.fetch_frame.jobs" -> Stats.median(frames.map(_._2.size.toDouble)),
        "store.fetch_frame.input_records_per_value" -> Stats.median(frames.map(c =>
          c._2.map(_.inputRecords).sum / frameValues)),
        "store.files_total" -> files,
        "store.bytes_total" -> bytes,
        "ops.ingest.route_s" -> routeS,
        "ops.ingest.rows_out_per_row_in" -> routedRows / inputRows,
        "ops.rollup.cascade_s" -> cascadeS,
        "ops.fetch.grid_s" -> gridS,
        "plans.plan_s" -> PerLayer.spanMedian(tr, "plans", "plan"),
        "plans.substituted_ratio" -> substituted.toDouble / math.max(1, queries),
        "plans.view_refresh_s" -> PerLayer.spanMedian(tr, "plans", "view_refresh"),
        "spark.gc_s" -> loop.gcS / math.max(1, loop.attempted))
    }

    Outcome(setupS, loop.timedS, loop.opMs, loop.attempted, loop.failed, checks.ok, detail,
      layers)
  }
}
