package whisperbench

import scala.collection.mutable

import graft.model.RetentionPolicy

/** Seeded metric points and an independent plain-Scala model of what the
  * store must hold after ingesting them.
  *
  * Points arrive at a 10 s cadence with a jitter inside the slot. A share
  * of slots carries a second point (either the same timestamp, where the
  * first-listed point must win, or a later timestamp, which must win), so
  * last-write-wins resolution has work to do. Runs of missing slots make
  * some rollup windows fall under the xFilesFactor and vanish.
  */
object Points {
  val Spec = "10s:6h,1m:7d,10m:1y"
  val Xff = 0.5f
  val Policy: RetentionPolicy = RetentionPolicy.parse(Spec, xff = Xff)
  val Steps: IndexedSeq[Long] = Policy.levels.map(_.secondsPerPoint.toLong).toIndexedSeq
  val Retentions: IndexedSeq[Long] = Policy.levels.map(_.retention).toIndexedSeq
  val Cadence = 10L
  /** Hash buckets of the store layout: one per core of the local session. */
  val Buckets = 4

  final case class Pt(metric: String, ts: Long, value: Double, seq: Long)

  def metricName(i: Int): String = f"dc${i % 4}.host${i / 4}%03d.load"

  /** SplitMix64 finaliser: decorrelates neighbouring seeds. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, parts: Long*): java.util.SplittableRandom =
    new java.util.SplittableRandom(parts.foldLeft(mix(seed))((a, p) => mix(a ^ p)))

  /** Raw series of one metric over [from, until), one point per `cadence`
    * seconds, in arrival order.
    *
    * @param gapStart chance that a slot opens a gap of 1..maxGap slots
    * @param dupShare chance that a present slot carries a second point
    */
  def series(seed: Long, m: Int, from: Long, until: Long, seqBase: Long,
             gapStart: Double, maxGap: Int, dupShare: Double,
             cadence: Long = Cadence): Array[Pt] = {
    val r = rng(seed, m.toLong, from)
    val name = metricName(m)
    val out = mutable.ArrayBuffer.empty[Pt]
    var gap = 0
    var slot = from - Math.floorMod(from, cadence)
    if (slot < from) slot += cadence
    while (slot < until) {
      if (gap > 0) gap -= 1
      else if (r.nextDouble() < gapStart) gap = r.nextInt(maxGap)
      else {
        val ts = slot + r.nextInt(cadence.toInt)
        out += Pt(name, ts, r.nextInt(1000000) / 100.0, seqBase + out.size)
        if (r.nextDouble() < dupShare) {
          // half exact-timestamp ties (the first-listed point must win),
          // half a second point somewhere in the same slot
          val ts2 = if (r.nextBoolean()) ts else slot + r.nextInt(cadence.toInt)
          out += Pt(name, ts2, r.nextInt(1000000) / 100.0, seqBase + out.size)
        }
      }
      slot += cadence
    }
    out.toArray
  }

  /** One metric's levels: interval → value, per level. */
  final class Levels {
    val data: Array[mutable.LongMap[Double]] =
      Array.fill(Steps.size)(mutable.LongMap.empty[Double])
  }

  /** The store as plain maps: whisper update_many semantics over many
    * metrics. Deliberately shares no code with the engine.
    */
  final class Model {
    val metrics = mutable.HashMap.empty[String, Levels]

    def levelFor(age: Long): Int = {
      var i = 0
      while (i < Retentions.size && Retentions(i) < age) i += 1
      if (i == Retentions.size) -1 else i
    }

    def align(t: Long, step: Long): Long = t - Math.floorMod(t, step)

    /** Apply one `updateMany(batch, now)`. Inputs are built so that no
      * rollup window a batch touches through the cascade also receives a
      * direct point in the same batch; that case is refused rather than
      * guessed.
      */
    def apply(batch: Iterable[Pt], now: Long): Unit = {
      // (metric, level, interval) → winning (ts, seq, value)
      val win = mutable.HashMap.empty[(String, Int, Long), (Long, Long, Double)]
      batch.foreach { p =>
        val lvl = levelFor(now - p.ts)
        if (lvl >= 0) {
          val k = (p.metric, lvl, align(p.ts, Steps(lvl)))
          win.get(k) match {
            case Some((ts, seq, _)) if ts > p.ts || (ts == p.ts && seq < p.seq) => ()
            case _ => win(k) = (p.ts, p.seq, p.value)
          }
        }
      }
      win.groupBy(_._1._1).foreach { case (metric, rows) =>
        val lv = metrics.getOrElseUpdate(metric, new Levels)
        val direct = Array.fill(Steps.size)(mutable.LongMap.empty[Double])
        rows.foreach { case ((_, l, iv), (_, _, v)) => direct(l)(iv) = v }
        var written = mutable.LongMap.empty[Double]
        for (i <- Steps.indices) {
          require(written.keys.forall(k => !direct(i).contains(k)),
            s"model: direct and cascaded writes meet at level $i")
          direct(i).foreach { case (k, v) => lv.data(i)(k) = v }
          written.foreach { case (k, v) => lv.data(i)(k) = v }
          val touched = (direct(i).keys ++ written.keys).toSet
          written = mutable.LongMap.empty[Double]
          if (i + 1 < Steps.size) {
            val lower = Steps(i + 1)
            val slots = (lower / Steps(i)).toDouble
            touched.map(align(_, lower)).toSet.foreach { (w: Long) =>
              var n = 0
              var sum = 0.0
              var t = w
              while (t < w + lower) {
                lv.data(i).get(t).foreach { v => n += 1; sum += v }
                t += Steps(i)
              }
              if (n > 0 && n / slots >= Xff.toDouble) written(w) = sum / n
            }
          }
        }
      }
    }

    def rows(level: Int): Long = metrics.values.map(_.data(level).size.toLong).sum
  }

  /** Relative-tolerance equality for aggregated doubles (sums may
    * associate differently).
    */
  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
}
