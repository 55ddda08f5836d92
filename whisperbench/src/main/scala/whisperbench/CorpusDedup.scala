package whisperbench

import scala.collection.mutable

import graft.ext.Dedup

/** `corpus-dedup`: the LLM-data path. One op runs the three-call pipeline
  * a curation job chains: `Dedup.exactGroups`, then
  * `Dedup.minhashDuplicates`, then `Dedup.connectedComponents` over the
  * near-duplicate pairs. Each call's result is collected before the next
  * starts, as a client would. The whisper layers stay idle.
  */
object CorpusDedup {
  val Bases = 4000
  val ExactCopies = 300
  val NearCopies = 300
  val WarmReps = 2
  val RecallFloor = 0.95

  def run(env: Env): Outcome = {
    import env.spark.implicits._
    val spark = env.spark
    val t = env.tracer
    val checks = new Checks

    val c0 = System.nanoTime()
    val corpus = Docs.generate(env.seed, Bases, ExactCopies, NearCopies)
    val docs = corpus.docs.toDF()
    val n = corpus.docs.size

    // expected exact groups, straight from the texts: (keeper, size)
    val wantGroups: Map[Long, Long] = corpus.docs.groupBy(_.text).values
      .map(g => g.map(_.doc_id).min -> g.size.toLong).toMap
    val planted = corpus.planted
    var lastPairs = 0L

    /** One pipeline run; returns its wall in ms (checks excluded). */
    def pipeline(): Double = {
      val t0 = System.nanoTime()
      val groups = t.span("ext", "exact_groups")(Dedup.exactGroups(docs).collect())
      val pairs = t.span("ext", "minhash")(Dedup.minhashDuplicates(docs).select("a", "b").collect())
      val pairDf = pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq.toDF("a", "b")
      val comps = t.span("ext", "components")(Dedup.connectedComponents(pairDf).collect())
      val ms = (System.nanoTime() - t0) / 1e6
      t.span("check", "dedup") {
        val got = groups.map(r => r.getAs[Long]("keeper") -> r.getAs[Long]("n")).toMap
        checks.expect(got.size == groups.length && got == wantGroups,
          s"exactGroups: ${got.size} groups vs ${wantGroups.size} expected")
        val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
        val hit = planted.count { case (b, c) => found((b min c, b max c)) }
        val recall = hit.toDouble / planted.size
        checks.expect(recall >= RecallFloor, f"minhash recall of planted pairs $recall%.4f < $RecallFloor")
        val families = mutable.HashMap.empty[Long, mutable.Set[Int]]
        comps.foreach { r =>
          families.getOrElseUpdate(r.getLong(1), mutable.Set.empty[Int]) += corpus.family(r.getLong(0))
        }
        val merged = families.count(_._2.size > 1)
        checks.expect(merged == 0, s"connectedComponents merged distinct bases in $merged components")
        lastPairs = found.size.toLong
      }
      // the pipeline caches its shingle and signature tables; drop them so
      // every run starts from the same state
      spark.catalog.clearCache()
      ms
    }

    val w0 = System.nanoTime()
    (0 until WarmReps).foreach(_ => pipeline())
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = env.sessionS + (System.nanoTime() - c0) / 1e9

    val loop = Loop.closed(env, "pipeline", minOps = 3)(pipeline())

    val detail = Map[String, Any]("workload" -> "corpus-dedup", "docs" -> n,
      "dedup_docs_per_s" -> Stats.median(loop.opMs.map(ms => n / (ms / 1000.0))),
      "pipeline_p50_ms" -> Stats.median(loop.opMs),
      "setup_warmup_s" -> warmS,
      "verified_pairs" -> lastPairs)

    def layers(tr: Tracer): Map[String, Double] = {
      val candidates = {
        val sh = Dedup.hashShingles(Dedup.shingles(docs))
        Dedup.lshCandidates(Dedup.minhashSignatures(sh)).count()
      }
      Map(
        "ext.exact_groups_s" -> PerLayer.spanMedian(tr, "ext", "exact_groups"),
        "ext.minhash_s" -> PerLayer.spanMedian(tr, "ext", "minhash"),
        "ext.components_s" -> PerLayer.spanMedian(tr, "ext", "components"),
        "ext.verified_per_candidate" -> lastPairs.toDouble / math.max(1L, candidates),
        "spark.gc_s" -> loop.gcS / math.max(1, loop.attempted))
    }

    Outcome(setupS, loop.timedS, loop.opMs, loop.attempted, loop.failed, checks.ok, detail,
      layers)
  }
}
