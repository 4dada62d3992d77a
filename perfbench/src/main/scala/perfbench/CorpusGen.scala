package perfbench

import java.util.SplittableRandom

/** Seeded training corpus for the `corpus` workload: Zipf text over a
  * vocabulary of ≥10k pseudo-words (the eight English stopwords the
  * quality gate counts lead the ranking), in capitalised sentences so
  * the retrieval chunker finds boundaries, with planted exact duplicates
  * (0.3%) and near duplicates (1.5%, every 17th word replaced).
  * Questions are word spans copied from documents outside every
  * duplicate group, so each question's answer is known here.
  */
object CorpusGen {

  final case class Doc(docId: Long, text: String, lang: String, source: String)
  final case class Question(queryId: Long, text: String, docId: Long)
  final case class Corpus(docs: Seq[Doc], exactGroups: Seq[Seq[Long]],
                          questions: Seq[Question]) {
    lazy val tokens: Map[Long, Int] =
      docs.map(d => d.docId -> d.text.trim.split("\\s+").length).toMap
    lazy val ids: Set[Long] = docs.map(_.docId).toSet
  }

  val VocabSize = 12000
  private val stopwords = Seq("the", "and", "of", "to", "a", "in", "is", "that")
  private val onsets = "b c d f g h j k l m n p r s t v w z br ch cl dr gr pl st th tr".split(" ")
  private val vowels = "a e i o u ai ea io ou".split(" ")
  private val sourceShares = Seq(0.34, 0.2, 0.14, 0.1, 0.08, 0.06, 0.05, 0.03)

  def vocabulary(seed: Long): Array[String] = {
    val r = new SplittableRandom(IrSites.mix64(seed ^ 0x5eedL))
    val seen = scala.collection.mutable.LinkedHashSet[String](stopwords: _*)
    while (seen.size < VocabSize) {
      val syl = 1 + r.nextInt(4)
      seen += (0 until syl).map(_ =>
        onsets(r.nextInt(onsets.length)) + vowels(r.nextInt(vowels.length))).mkString
    }
    seen.toArray
  }

  /** Cumulative Zipf(s = 1.05) weights over vocabulary ranks. */
  private def zipfCdf(n: Int): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, 1.05))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def generate(seed: Long, nDocs: Int, nQuestions: Int): Corpus = {
    val vocab = vocabulary(seed)
    val cdf = zipfCdf(vocab.length)
    val r = new SplittableRandom(IrSites.mix64(seed))
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
    }
    def source(): String = {
      val u = r.nextDouble()
      var acc = 0.0
      val k = sourceShares.indexWhere { s => acc += s; u < acc }
      s"src${if (k < 0) sourceShares.size - 1 else k}"
    }
    val docs = Array.newBuilder[Doc]
    val groupOf = scala.collection.mutable.Map.empty[Long, Long] // copy -> original
    val nearCopies = scala.collection.mutable.Set.empty[Long]
    val built = scala.collection.mutable.ArrayBuffer.empty[(Seq[Seq[String]], String)]
    for (id <- 0L until nDocs.toLong) {
      val u = r.nextDouble()
      val body =
        if (id > 50 && u < 0.018) {
          var orig = id - 1 - r.nextInt(50).toLong
          while (orig > 0 && (groupOf.contains(orig) || nearCopies.contains(orig))) orig -= 1
          val (ss, src) = built(orig.toInt)
          if (u < 0.003) { groupOf(id) = orig; (ss, src) }
          else {
            nearCopies += id
            nearCopies += orig
            var k = 0
            (ss.map(_.map { w => k += 1; if (k % 17 == 0) word() else w }), src)
          }
        } else {
          val ss = Seq.fill(3 + r.nextInt(12))(Seq.fill(6 + r.nextInt(11))(word()))
          (ss, source())
        }
      built += body
      docs += Doc(id, body._1.map(ws => (ws.head.capitalize +: ws.tail).mkString("", " ", "."))
        .mkString(" "), "en", body._2)
    }
    val all = docs.result().toSeq
    val exactGroups = groupOf.toSeq.groupBy(_._2).toSeq
      .map { case (orig, cs) => (orig +: cs.map(_._1)).sorted }.sortBy(_.head)
    val inGroup = exactGroups.flatten.toSet ++ nearCopies
    val singles = all.map(_.docId).filterNot(inGroup).toIndexedSeq
    val questions = (0 until nQuestions).map { q =>
      val id = singles(r.nextInt(singles.size))
      val ss = built(id.toInt)._1
      val s = ss.maxBy(_.size)
      val len = math.min(10, s.size)
      val at = r.nextInt(s.size - len + 1)
      Question(q.toLong, s.slice(at, at + len).mkString(" "), id)
    }
    Corpus(all, exactGroups, questions)
  }
}
