package whisperbench

import scala.collection.mutable

/** Seeded synthetic corpus with planted duplicates.
  *
  * Base documents are random word sequences over a large vocabulary, so
  * two distinct bases share almost no word 3-grams. Each planted copy is
  * derived from one base: an exact copy repeats its text byte for byte, a
  * near copy replaces a few words. `family(id)` names the base a document
  * derives from, which is all the checks need.
  */
object Docs {
  final case class Doc(doc_id: Long, text: String)

  final case class Corpus(docs: IndexedSeq[Doc], family: Map[Long, Int],
                          exactCopies: Seq[(Long, Long)], nearCopies: Seq[(Long, Long)]) {
    /** (base id, copy id) for every planted copy. */
    def planted: Seq[(Long, Long)] = exactCopies ++ nearCopies
  }

  val Vocabulary = 20000
  val MinWords = 60
  val MaxWords = 140
  val MaxEdits = 3

  private def word(i: Int): String = {
    val sb = new StringBuilder
    var x = Points.mix(i.toLong * 31 + 7) & Long.MaxValue
    val len = 3 + (x % 6).toInt
    while (sb.length < len) { sb += ('a' + (x % 26).toInt).toChar; x /= 26 }
    sb.toString
  }

  private lazy val words: Array[String] = Array.tabulate(Vocabulary)(word)

  def generate(seed: Long, bases: Int, exact: Int, near: Int): Corpus = {
    val r = Points.rng(seed, 0xD0C5L)
    val baseWords: Array[Array[Int]] = Array.fill(bases) {
      Array.fill(MinWords + r.nextInt(MaxWords - MinWords + 1))(r.nextInt(Vocabulary))
    }
    // (text, family, kind) with kind 0 = base, 1 = exact copy, 2 = near copy
    val texts = mutable.ArrayBuffer.empty[(String, Int, Int)]
    baseWords.zipWithIndex.foreach { case (ws, b) => texts += ((ws.map(words).mkString(" "), b, 0)) }
    (0 until exact).foreach { _ =>
      val b = r.nextInt(bases)
      texts += ((texts(b)._1, b, 1))
    }
    (0 until near).foreach { _ =>
      val b = r.nextInt(bases)
      val ws = baseWords(b).clone()
      (0 until 1 + r.nextInt(MaxEdits)).foreach { _ =>
        val at = r.nextInt(ws.length)
        var w = r.nextInt(Vocabulary)
        while (w == ws(at)) w = r.nextInt(Vocabulary)
        ws(at) = w
      }
      texts += ((ws.map(words).mkString(" "), b, 2))
    }
    // ids are a seeded permutation, so copies do not sit next to their base
    val ids = (0L until texts.size.toLong).toArray
    (ids.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val docs = texts.indices.map(i => Doc(ids(i), texts(i)._1))
    val family = texts.indices.map(i => ids(i) -> texts(i)._2).toMap
    val copies = texts.indices.filter(i => texts(i)._3 != 0)
      .map(i => (texts(i)._3, ids(texts(i)._2), ids(i)))
    Corpus(docs, family,
      copies.collect { case (1, b, c) => (b, c) },
      copies.collect { case (2, b, c) => (b, c) })
  }
}
