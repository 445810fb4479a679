package perfbench

import scala.collection.mutable

/** Plain-Scala reference answers computed from the generator's own data:
  * brute-force cosine top-k, BM25 under the reference tokenizer, 2-hop
  * reachability and the category histogram. */
final class Oracle(state: Iterable[Point], edges: Iterable[Edge]) {
  private val pts: Array[Point] = state.toArray.sortBy(_.id)
  private val byId: Map[Long, Point] = pts.iterator.map(p => p.id -> p).toMap

  def point(id: Long): Option[Point] = byId.get(id)

  /** Top-k by cosine similarity, ties by ascending id (the engine's order). */
  def knn(q: Array[Float], k: Int, filter: Option[(String, Double)]): Seq[(Long, Double)] =
    Oracle.top(pts.iterator.filter(p => Oracle.passes(p, filter))
      .map(p => p.id -> Oracle.cosine(q, p.vec)).toSeq, k)

  def cosineOf(id: Long, q: Array[Float], filter: Option[(String, Double)]): Option[Double] =
    byId.get(id).filter(Oracle.passes(_, filter)).map(p => Oracle.cosine(q, p.vec))

  // ---- BM25 (k1 = 1.2, b = 0.75, idf = ln((N − df + 0.5)/(df + 0.5) + 1)) ----
  private lazy val docTerms: Array[Array[String]] = pts.map(p => Oracle.tokenize(p.text))
  private lazy val avgdl: Double = docTerms.map(_.length.toDouble).sum / docTerms.length
  private lazy val postings: Map[String, Array[(Int, Int)]] = {
    val m = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Int, Int)]]
    docTerms.zipWithIndex.foreach { case (ts, i) =>
      ts.groupBy(identity).foreach { case (t, occ) =>
        m.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((i, occ.length))
      }
    }
    m.map { case (t, b) => t -> b.toArray }.toMap
  }

  def bm25Scores(query: String): Map[Long, Double] = {
    val n = docTerms.length.toDouble
    val acc = mutable.HashMap.empty[Long, Double]
    Oracle.tokenize(query).distinct.foreach { t =>
      val post = postings.getOrElse(t, Array.empty[(Int, Int)])
      val df = post.length.toDouble
      val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
      post.foreach { case (i, tf) =>
        val dl = docTerms(i).length.toDouble
        val s = idf * (tf * (Oracle.K1 + 1.0)) /
          (tf + Oracle.K1 * (1.0 - Oracle.B + Oracle.B * dl / avgdl))
        acc(pts(i).id) = acc.getOrElse(pts(i).id, 0.0) + s
      }
    }
    acc.toMap
  }

  // ---- graph ----
  private lazy val out: Map[Long, Array[Long]] =
    edges.groupBy(_.src).map { case (s, es) => s -> es.map(_.dst).toArray }

  /** Distinct ends of every 2-edge walk a → b → c. */
  def twoHop(a: Long): Set[Long] =
    out.getOrElse(a, Array.empty[Long]).iterator
      .flatMap(b => out.getOrElse(b, Array.empty[Long])).toSet

  def categoryCounts: Map[String, Long] =
    pts.groupBy(_.category).map { case (c, ps) => c -> ps.length.toLong }
}

object Oracle {
  val K1 = 1.2
  val B = 0.75

  /** The k best (id, score) pairs, ties by ascending id. */
  def top(scores: Iterable[(Long, Double)], k: Int): Seq[(Long, Double)] =
    scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)

  /** Lowercase, split on non-alphanumerics, drop tokens of length ≤ 1. */
  def tokenize(s: String): Array[String] =
    s.toLowerCase.split("[^a-z0-9]+").filter(_.length > 1)

  def passes(p: Point, filter: Option[(String, Double)]): Boolean =
    filter.forall { case (c, maxPrice) => p.category == c && p.price < maxPrice }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i).toDouble; na += a(i) * a(i).toDouble; nb += b(i) * b(i).toDouble
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** A ranked answer matches the reference when it has the same length,
    * its score column equals the reference's position by position, and
    * every returned id truly has the score it was returned with. Ties may
    * come back in any order; a wrong id or a missed better hit fails. */
  def sameRanking(got: Seq[(Long, Double)], want: Seq[(Long, Double)],
      trueScore: Long => Option[Double], tol: Double): Boolean =
    got.size == want.size &&
      got.map(_._1).distinct.size == got.size &&
      got.zip(want).forall { case ((_, g), (_, w)) => math.abs(g - w) <= tol * math.max(1.0, math.abs(w)) } &&
      got.forall { case (id, g) => trueScore(id).exists(t => math.abs(t - g) <= tol * math.max(1.0, math.abs(t))) }

  def recall(got: Seq[Long], want: Seq[Long]): Double =
    if (want.isEmpty) 1.0 else got.toSet.intersect(want.toSet).size.toDouble / want.size
}
