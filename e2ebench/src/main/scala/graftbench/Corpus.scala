package graftbench

import java.util.SplittableRandom

/** Seeded documents corpus modelled on the engine's scale-fixture
  * generator (same base vocabulary, language mix, 20 sources, planted
  * exact and near duplicates), widened with a Zipf vocabulary of
  * synthetic words plus per-language stopwords so n-gram stages see real
  * selectivity, and a deliberately contaminated mod-97 eval split:
  *  - some corpus docs embed a 5-word span of an eval doc (word 3-gram hit);
  *  - some corpus docs are an eval doc's words reshuffled (no shared word
  *    3-gram, near-identical character n-gram embedding).
  */
object Corpus {
  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  private val Base = ("join hash row batch scan customer column filter small slow merge " +
    "order vector line table data agg value key stream window spark a " +
    "part group query big fast sort the").split(" ")
  private val Langs = Seq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)
  private val Stop = graft.operators.TextOps.StopWords.toMap

  /** Fixed (seed-independent) vocabulary: base words then synthetic ones. */
  private val Vocab: Array[String] = {
    val syl = "ka lo mi ne ru sa te vo zu pe di fa go hu ji be".split(" ")
    val r = new SplittableRandom(7L)
    Base ++ Array.fill(600)((0 until 2 + r.nextInt(2)).map(_ => syl(r.nextInt(syl.length))).mkString)
  }
  private val VocabCdf: Array[Double] = {
    val c = Vocab.indices.map(i => 1.0 / math.pow(i + 3, 0.8)).scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last).toArray
  }

  def generate(seed: Long, nDocs: Int, nSources: Int = 20): Array[Doc] = {
    val r = new SplittableRandom(seed)
    def pick(cdf: Array[Double]): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
    }
    val langCdf = Langs.map(_._2).scanLeft(0.0)(_ + _).tail.toArray
    val langs = Array.fill(nDocs)(Langs(pick(langCdf))._1)
    val words: Array[Array[String]] = Array.tabulate(nDocs) { i =>
      val stop = Stop(langs(i))
      Array.fill(25 + r.nextInt(71))(
        if (r.nextDouble() < 0.12) stop(r.nextInt(stop.size)) else Vocab(pick(VocabCdf)))
    }
    def corpusId(): Int = { var i = r.nextInt(nDocs); while (i % 97 == 0) i = r.nextInt(nDocs); i }
    def evalId(): Int = 97 * r.nextInt((nDocs - 1) / 97 + 1)
    // exact duplicates (~0.2%) and one-token near duplicates (~0.3%)
    for (_ <- 0 until nDocs / 500) words(corpusId()) = words(r.nextInt(nDocs)).clone()
    for (_ <- 0 until nDocs / 330) {
      val w = words(r.nextInt(nDocs)).clone()
      w(r.nextInt(w.length)) = Vocab(pick(VocabCdf))
      words(corpusId()) = w
    }
    // contamination of the mod-97 eval split: verbatim spans, reshuffles
    for (_ <- 0 until nDocs / 250) {
      val e = words(evalId()); val c = corpusId(); val w = words(c)
      val at = r.nextInt(e.length - 5); val to = r.nextInt(w.length - 5)
      words(c) = w.take(to) ++ e.slice(at, at + 5) ++ w.drop(to + 5)
    }
    for (_ <- 0 until nDocs / 400) {
      val e = words(evalId()).clone()
      var i = e.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = e(i); e(i) = e(j); e(j) = t; i -= 1 }
      words(corpusId()) = e
    }
    Array.tabulate(nDocs) { i =>
      val text = words(i).mkString(" ")
      Doc(i.toLong, text, langs(i), s"src${i % nSources}", text.length.toLong)
    }
  }
}
