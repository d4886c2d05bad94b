package perfbench

import graft.gen.{QuerySet, TranscriptGen}

/** One query of the stream. `needle` names the conversation whose
  * turn 0 must rank within the first `needleWithin` hits.
  */
final case class Query(
    cls: String,
    text: String,
    k: Int,
    minScore: Double = 0.0,
    conjunctive: Boolean = false,
    needle: Option[Long] = None,
    needleWithin: Int = 1)

/** Seeded query stream derived from `QuerySet.referenceQueries`, the
  * fixture `graft.Bench` times. A query class is a fixture id without its
  * number or variant, which gives 13 classes: hot, mid, rare, mix, and,
  * needle, shared, zero, stoponly, dupterms, thresh, bigk and phrase.
  * The stream is a sequence of rounds; each round is a seeded
  * permutation of the classes, and each class draws one of its entries
  * uniformly. So every class has a 1/13 share, and any [[RoundSize]]
  * consecutive queries hold one query of each class. The 20 needle
  * entries are one class because the stream redraws their needle, which
  * makes them the same query.
  *
  * Each drawn entry keeps its k, min score, AND/OR mode and shape; the
  * seed redraws its terms:
  *   - a vocabulary term `tNNNNN` becomes a Zipf-drawn term of the same
  *     rank band (hot < 50, mid 50-999, rare >= 1000), the same term
  *     each time it repeats in the entry;
  *   - a planted needle (`needleNalpha`, `needleNbeta`) becomes a seeded
  *     needle of the corpus; needle entries must rank it first, phrasing
  *     entries within the top 10 (the fixture's quality bar);
  *   - stop words, zero-df terms and `needleshared` stay as written.
  */
final class QueryStream(seed: Long, numConvs: Long) {
  private val rng = new scala.util.Random(TranscriptGen.mix64(seed ^ 0x5eedL))
  private val needles = math.min(TranscriptGen.NumNeedles.toLong, numConvs).toInt
  private val classes = QuerySet.referenceQueries.toIndexedSeq.groupBy(q => QueryStream.classOf(q.id)).values
    .map(_.toIndexedSeq).toIndexedSeq.sortBy(c => QueryStream.classOf(c.head.id))
  private var round = IndexedSeq.empty[IndexedSeq[QuerySet.Q]]
  private var pos = 0

  private val Bands = Seq(0 -> 50, 50 -> 1000, 1000 -> TranscriptGen.VocabSize)
  private val VocabTerm = """t(\d{5})""".r
  private val NeedleTerm = """needle(\d+)(alpha|beta)""".r

  /** A Zipf-drawn term of rank in [lo, hi). */
  private def zipfIn(lo: Int, hi: Int): String = {
    val cdf = TranscriptGen.zipfCdf
    val a = if (lo == 0) 0.0 else cdf(lo - 1)
    val u = a + rng.nextDouble() * (cdf(hi - 1) - a)
    val i = java.util.Arrays.binarySearch(cdf, u)
    TranscriptGen.termOf(math.min(hi - 1, math.max(lo, if (i >= 0) i else -i - 1)))
  }

  def next(): Query = {
    if (pos == round.length) { round = rng.shuffle(classes); pos = 0 }
    val entries = round(pos)
    val t = entries(rng.nextInt(entries.length))
    pos += 1
    val needle = rng.nextInt(needles).toLong
    var planted = false
    val drawn = scala.collection.mutable.HashMap[String, String]()
    val text = t.text.split(" ").map {
      case w @ VocabTerm(n) =>
        val (lo, hi) = Bands.find { case (lo, hi) => n.toInt >= lo && n.toInt < hi }.get
        drawn.getOrElseUpdate(w, zipfIn(lo, hi))
      case NeedleTerm(_, part) => planted = true; s"needle$needle$part"
      case w => w
    }.mkString(" ")
    val cls = QueryStream.classOf(t.id)
    Query(cls, text, t.k, t.minScore, t.conjunctive,
      needle = if (planted) Some(needle) else None,
      needleWithin = if (cls == "phrase") 10 else 1)
  }
}

object QueryStream {
  /** Query class: the fixture id without its number or variant. */
  def classOf(id: String): String = id.takeWhile(c => !c.isDigit && c != '-')

  /** Classes in one round. */
  val RoundSize: Int = QuerySet.referenceQueries.map(q => classOf(q.id)).distinct.size
}
