package graft.store

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Test helpers for forcing `updateMany`'s cascade regime and watching
  * the Spark jobs a call fires.
  */
object CascadeRegimes {

  /** A cascade regime and the row bound that forces it: 0 sends every
    * batch to the Spark cascade, Long.MaxValue sends every eligible batch
    * (no fresh level, counted deep levels) to the driver-planned one.
    */
  final case class Regime(name: String, bound: Long) {
    override def toString: String = name
  }
  val Spark: Regime = Regime("spark", 0L)
  val Driver: Regime = Regime("driver", Long.MaxValue)
  val All: Seq[Regime] = Seq(Spark, Driver)

  def force(store: MetricStore, regime: Regime): MetricStore = {
    store.driverCascadeBound = regime.bound
    store
  }

  /** Creates every level directory of a new store, empty — the state a
    * store is in after vacuum drops all its buckets — so a first batch
    * counts as incremental and is eligible for the driver-planned cascade.
    */
  def primeLevels(store: MetricStore, levels: Int): MetricStore = {
    (0 until levels).foreach(i => new java.io.File(s"${store.root}/level_$i").mkdirs())
    store
  }

  /** Runs `body` and returns its result with the description of every
    * Spark job started meanwhile ("" when a job had none).
    */
  def jobDescriptions[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val marker = s"cascade-regimes-marker-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        if (d == marker) markerSeen.countDown() else { seen.add(d); () }
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      // the listener bus is FIFO: once the marker job's start arrives,
      // every job `body` started has been seen
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(prev)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain")
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
