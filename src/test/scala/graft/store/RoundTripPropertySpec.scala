package graft.store

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model._

/** Randomized update_many → levels property: the distributed store must
  * agree with a tiny in-memory simulator implementing the SURVEY.md §2.1
  * semantics directly (align → route by age → LWW → xff-gated cascade).
  * Seeded, so failures reproduce.
  */
class RoundTripPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Now = 1706659200L

  /** Pure-Scala reference: per-level maps (metric, interval) ->
    * (value, known, vsum) — value per the §2.1 semantics, known/vsum the
    * level-0 contribution counts the counted cascade must maintain
    * (direct rows count as one raw point; cascaded rows sum children).
    */
  /** Batches are processed SEQUENTIALLY, each per the reference's
    * update_many (whisper.py:756-875; pinned against the executing
    * reference by tools/DiffFuzz): per batch, per-slot duplicate
    * resolution keeps the max-timestamp point (first-listed / min seq
    * on exact ts ties), a later batch's write owns any slot it touches
    * (the ring overwrite), and — because archives commit finest-first —
    * an archive's own DIRECT points land after every finer chain's
    * propagation into it, so direct beats same-batch propagation while
    * a LATER batch's propagation overwrites an earlier batch's direct
    * point.
    */
  private def simulate(batches: Seq[Seq[(String, Long, Double, Long)]],
                       policy: RetentionPolicy,
                       now: Long): Seq[Map[(String, Long), (Double, Long, Double)]] = {
    val levels = policy.levels
    val state: Seq[scala.collection.mutable.Map[(String, Long), (Double, Long, Double)]] =
      levels.map(_ => scala.collection.mutable.Map[(String, Long), (Double, Long, Double)]())
    batches.foreach { points =>
      // route: finest level covering age; older than total retention dropped
      val routed = points.flatMap {
        case (m, ts, v, seq) =>
          policy.levelForAge(now - ts).map(l => (l, m, ts, v, seq))
      }
      val direct: Seq[Map[(String, Long), (Double, Long, Double)]] =
        levels.indices.map { l =>
          routed.filter(_._1 == l).groupBy {
            case (_, m, ts, _, _) => (m, ts - ts % levels(l).secondsPerPoint)
          }.map {
            case ((m, slot), grp) =>
              val v = grp.maxBy(p => (p._3, -p._5))._4
              (m, slot) -> ((v, 1L, v))
          }
        }
      direct(0).foreach { case (k, v) => state(0)(k) = v }
      var changed: Set[(String, Long)] = direct(0).keySet
      for (i <- 1 until levels.size) {
        val hi = levels(i - 1).secondsPerPoint
        val lo = levels(i).secondsPerPoint
        val slots = lo / hi
        // 1. propagation from the finer levels' writes, reading current
        //    merged state; window-level recompute is value-equivalent to
        //    whisper's per-chain propagation (a failed window's deeper
        //    recompute is idempotent)
        val touched = changed.map { case (m, iv) => (m, iv - iv % lo) }
        val wrote = scala.collection.mutable.Set.empty[(String, Long)]
        touched.foreach {
          case (m, w) =>
            val known = (0 until slots).flatMap { j =>
              state(i - 1).get((m, w + j * hi)).map(v => (w + j * hi, v))
            }.sortBy(_._1)
            if (known.nonEmpty &&
              known.size.toDouble / slots >= policy.xff.toDouble) {
              val vals = known.map(_._2._1)
              val v = AggregationMethod.aggregate(
                policy.aggregation, vals,
                Some((0 until slots).map(j => state(i - 1).get((m, w + j * hi)).map(_._1))))
              state(i)((m, w)) = (v, known.map(_._2._2).sum, known.map(_._2._3).sum)
              wrote += ((m, w))
            }
        }
        // 2. this archive's own direct points land LAST — direct beats
        //    same-batch propagation
        direct(i).foreach { case (k, v) => state(i)(k) = v }
        changed = wrote.toSet ++ direct(i).keySet
      }
    }
    state.map(_.toMap)
  }

  private def levelState(st: MetricStore, i: Int) = st.levelData(i).collect()
    .map { r =>
      val counts =
        if (i == 0) (1L, r.getAs[Double]("value"))
        else (r.getAs[Long]("known"), r.getAs[Double]("vsum"))
      (r.getAs[String]("metric"), r.getAs[Long]("interval")) ->
        ((r.getAs[Double]("value"), counts._1, counts._2))
    }.toMap

  private def markers(st: MetricStore) = (st.rollupsDerivedFromLevel0, st.countsExact)

  /** One policy through both cases — one batch, and the same points as
    * two interleaved batches — in each cascade regime, forced. The
    * driver-planned cascade only runs on existing levels, so its stores
    * start with empty level directories; the Spark regime's one-batch
    * store starts fresh, its bulk path. Both regimes must match the
    * simulator and leave the same store markers.
    */
  private def checkPolicy(policy: RetentionPolicy, pi: Int,
                          value: scala.util.Random => Double, rnd: scala.util.Random): Unit = {
    val metrics = Seq("m1", "m2")
    val horizon = policy.maxRetention + policy.maxRetention / 4 // incl. too-old
    val points = (0 until 300).map { i =>
      (metrics(rnd.nextInt(2)),
        Now - (rnd.nextDouble() * horizon).toLong,
        value(rnd),
        i.toLong)
    }
    // split on ARRIVAL order (seq); timestamps stay randomly interleaved
    // so batch 2 still dirties windows batch 1 already rolled up AND
    // contests already-written slots
    val (b1, b2) = points.partition(_._4 < 150)
    val want = simulate(Seq(points), policy, Now)
    // the SAME point set ingested as two batches must converge to the
    // batch-SEQUENCED simulation — a later update_many owns every slot
    // it writes (whisper's ring overwrite), so a contested slot's winner
    // can legitimately differ from the one-batch ingest when batch 2
    // carries an older-timestamp duplicate; the touched-window cascade
    // must still repair every window batch 2 dirties
    val want2 = simulate(Seq(b1, b2), policy, Now)
    def newStore(tag: String, regime: CascadeRegimes.Regime) = {
      val st = CascadeRegimes.force(new MetricStore(spark,
        Files.createTempDirectory(s"ms-prop$pi-$tag-$regime").toString, numBuckets = 4), regime)
      metrics.foreach(st.create(_, policy))
      st
    }
    val marks = CascadeRegimes.All.map { regime =>
      val store = newStore("one", regime)
      if (regime == CascadeRegimes.Driver) CascadeRegimes.primeLevels(store, policy.levels.size)
      store.updateMany(points.toDF("metric", "ts", "value", "seq"), Now)
      policy.levels.indices.foreach { i =>
        assert(levelState(store, i) == want(i), s"policy $pi level $i ($regime)")
      }

      val store2 = newStore("inc", regime)
      store2.updateMany(b1.toDF("metric", "ts", "value", "seq"), Now)
      store2.updateMany(b2.toDF("metric", "ts", "value", "seq"), Now)
      policy.levels.indices.foreach { i =>
        assert(levelState(store2, i) == want2(i), s"policy $pi level $i (incremental, $regime)")
      }
      (markers(store), markers(store2))
    }
    assert(marks.distinct.size == 1, s"policy $pi: store markers differ by regime: $marks")
  }

  test("store agrees with the reference simulator on random batches (3 policies)") {
    val rnd = new scala.util.Random(42)
    val policies = Seq(
      RetentionPolicy(Seq(ArchiveInfo(60, 200), ArchiveInfo(300, 200)), xff = 0.5f),
      RetentionPolicy(Seq(ArchiveInfo(30, 100), ArchiveInfo(120, 100),
        ArchiveInfo(600, 60)), xff = 0.25f,
        aggregation = AggregationMethod.Max),
      RetentionPolicy(Seq(ArchiveInfo(10, 400), ArchiveInfo(60, 400)), xff = 0f,
        aggregation = AggregationMethod.Sum)
    )
    policies.zipWithIndex.foreach { case (policy, pi) =>
      // 0.5-grid values, some negative
      checkPolicy(policy, pi, r => math.floor(r.nextDouble() * 200) / 2 - 50, rnd)
    }
  }

  test("simulator agreement under last, absmax/absmin with |v| ties, and avg_zero") {
    val rnd = new scala.util.Random(7)
    val policies = Seq(
      RetentionPolicy(Seq(ArchiveInfo(60, 200), ArchiveInfo(300, 200)), xff = 0.5f,
        aggregation = AggregationMethod.Last),
      RetentionPolicy(Seq(ArchiveInfo(30, 100), ArchiveInfo(120, 100),
        ArchiveInfo(600, 60)), xff = 0.25f, aggregation = AggregationMethod.AbsMax),
      RetentionPolicy(Seq(ArchiveInfo(30, 100), ArchiveInfo(120, 100),
        ArchiveInfo(600, 60)), xff = 0f, aggregation = AggregationMethod.AbsMin),
      RetentionPolicy(Seq(ArchiveInfo(10, 400), ArchiveInfo(60, 400),
        ArchiveInfo(300, 200)), xff = 0.5f, aggregation = AggregationMethod.AvgZero)
    )
    policies.zipWithIndex.foreach { case (policy, pi) =>
      // values in {-3, ..., 3}: many windows hold both v and -v, so the
      // absmax/absmin tie-break (earliest slot wins) decides the sign
      checkPolicy(policy, 10 + pi, r => (r.nextInt(7) - 3).toDouble, rnd)
    }
  }
}
