package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model._

/** The two regimes of `updateMany`'s cascade — the Spark cascade and the
  * driver-planned one for small incremental batches — on the cases where
  * whisper's write order decides the stored value, plus the size rule
  * that picks between them and the job tags each regime's jobs carry.
  */
class CascadeRegimeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Now = 1706659200L

  private def newStore(tag: String, policy: RetentionPolicy,
                       regime: CascadeRegimes.Regime): MetricStore = {
    val store = CascadeRegimes.force(new MetricStore(spark,
      Files.createTempDirectory(s"ms-regime-$tag-$regime").toString, numBuckets = 4), regime)
    store.create("m", policy)
    store
  }

  /** Level i of metric "m" as interval -> (value, known, vsum); a level-0
    * row counts as one raw point.
    */
  private def rows(store: MetricStore, i: Int): Map[Long, (Double, Long, Double)] = {
    val level = store.levelData(i).where(col("metric") === "m")
    val counted =
      if (i == 0) level.select(col("interval"), col("value"), lit(1L), col("value"))
      else level.select("interval", "value", "known", "vsum")
    counted.as[(Long, Double, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  private def batch(pts: Seq[(Long, Double)], seq0: Long = 0L) =
    pts.zipWithIndex.map { case ((t, v), k) => ("m", t, v, seq0 + k) }
      .toDF("metric", "ts", "value", "seq")

  test("a deep direct point beats same-batch propagation into its window, in both regimes") {
    // level 0 keeps 6000 s; with now 150 s past a 300 s boundary, the 5m
    // window w = now - 6150 straddles the retention edge: points at
    // w+180 and w+240 land in level 0 and propagate into w, while a point
    // at w+60 is too old for level 0 and is written to w directly
    val policy = RetentionPolicy(
      Seq(ArchiveInfo(60, 100), ArchiveInfo(300, 100), ArchiveInfo(1800, 100)), xff = 0f)
    val now = Now + 150
    val w = Now - 6000
    val results = CascadeRegimes.All.map { regime =>
      val store = CascadeRegimes.primeLevels(newStore("direct", policy, regime), 3)
      store.updateMany(batch(Seq(w + 180L -> 4.0, w + 240L -> 8.0, w + 60L -> 100.0)), now)
      assert(rows(store, 0) == Map((w + 180) -> ((4.0, 1L, 4.0)), (w + 240) -> ((8.0, 1L, 8.0))))
      // direct wins at level 1 and is what level 2 consolidates
      assert(rows(store, 1) == Map(w -> ((100.0, 1L, 100.0))), s"$regime")
      assert(rows(store, 2) == Map((w - w % 1800) -> ((100.0, 1L, 100.0))), s"$regime")
      assert(!store.rollupsDerivedFromLevel0 && store.countsExact)
      (rows(store, 1), rows(store, 2))
    }
    assert(results.distinct.size == 1)
  }

  test("a window that fails xff after passing keeps its stored rollup, in both regimes") {
    val policy = RetentionPolicy(
      Seq(ArchiveInfo(60, 1000), ArchiveInfo(300, 1000), ArchiveInfo(1800, 1000)), xff = 0.2f)
    val w = Now - 3600 // aligned to 1800 s, so to every level
    CascadeRegimes.All.foreach { regime =>
      val store = newStore("xff", policy, regime)
      // level 2 never passes here, so without priming its directory would
      // stay fresh and send every batch to the Spark cascade
      if (regime == CascadeRegimes.Driver) CascadeRegimes.primeLevels(store, 3)
      // 2 of 5 slots: passes xff 0.2 at level 1; 1 of 6 windows fails at level 2
      store.updateMany(batch(Seq(w -> 2.0, w + 60L -> 4.0)), Now)
      assert(rows(store, 1) == Map(w -> ((3.0, 2L, 6.0))))
      assert(rows(store, 2).isEmpty)
      store.setXFilesFactor("m", 0.8f)
      // 3 of 5 slots now fails 0.8: nothing is recomputed or written below
      store.updateMany(batch(Seq(w + 120L -> 9.0), 10L), Now)
      assert(rows(store, 0).keySet == Set(w, w + 60, w + 120), s"$regime")
      assert(rows(store, 1) == Map(w -> ((3.0, 2L, 6.0))), s"$regime: stale rollup must stay")
      assert(rows(store, 2).isEmpty, s"$regime")
    }
  }

  test("the regime follows the batch's size: routed points plus cascade child rows") {
    val policy = RetentionPolicy(Seq(ArchiveInfo(60, 1000), ArchiveInfo(300, 1000)), xff = 0f)
    val store = new MetricStore(spark,
      Files.createTempDirectory("ms-regime-size").toString, numBuckets = 4)
    store.create("m", policy)
    store.updateMany(batch(Seq(Now - 600L -> 1.0)), Now) // fresh levels: Spark cascade
    def reads(pts: Seq[(Long, Double)]): Seq[String] =
      CascadeRegimes.jobDescriptions(spark)(store.updateMany(batch(pts, 100L), Now))._2
        .filter(_.startsWith("graft.store.read"))
    // 4 points + 4 windows x 5 slots = 24 rows
    val small = (1 to 4).map(k => (Now - 600L * k - 60) -> k.toDouble)
    store.driverCascadeBound = 24
    assert(reads(small) == Seq("graft.store.read level=0"))
    store.driverCascadeBound = 23
    assert(reads(small).isEmpty)
    store.driverCascadeBound = MetricStore.DriverCascadeMaxRows
    assert(reads(small).nonEmpty)
  }

  test("pool-thread jobs carry their own read or write tag, never an inherited one") {
    // pool threads keep the Spark local properties they inherited or last
    // set: leave a stale write tag on every thread of the store's pool
    val stale = "graft.store.write level=7"
    val threads = 4
    def onEveryPoolThread(description: String): Unit = {
      val barrier = new java.util.concurrent.CyclicBarrier(threads)
      val done = (1 to threads).map { _ =>
        scala.concurrent.Future {
          spark.sparkContext.setJobDescription(description)
          barrier.await()
        }(MetricStore.writeEc)
      }
      done.foreach(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration("60s")))
    }
    val policy = RetentionPolicy(
      Seq(ArchiveInfo(60, 1000), ArchiveInfo(300, 1000), ArchiveInfo(1800, 1000)), xff = 0f)
    val store = newStore("tags", policy, CascadeRegimes.Driver)
    store.updateMany(batch((0 until 30).map(k => (Now - 3600L + 60 * k) -> k.toDouble)), Now)
    onEveryPoolThread(stale)
    try {
      val (_, descs) = CascadeRegimes.jobDescriptions(spark)(
        store.updateMany(batch((0 until 30).map(k => (Now - 3570L + 60 * k) -> 1.0), 100L), Now))
      assert(!descs.contains(stale), s"a job ran under an inherited tag: $descs")
      assert(descs.count(_.startsWith("graft.store.read")) == 2)
      assert(descs.toSet.filter(_.startsWith("graft.store.read")) ==
        Set("graft.store.read level=0", "graft.store.read level=1"))
      assert(descs.exists(_.startsWith("graft.store.write")))
      assert(descs.forall(d => d.isEmpty || d.matches("graft\\.store\\.(read|write) level=[0-2]")),
        s"unexpected job descriptions: ${descs.distinct}")
    } finally onEveryPoolThread(null)
  }
}
