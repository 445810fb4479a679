package perfbench

import scala.collection.mutable

/** One point of the user collection, exactly as the generator made it. */
final case class Point(id: Long, vec: Array[Float], text: String,
    category: String, price: Double) {
  /** Raw bytes of the point: the id, 4 bytes per vector component and
    * the UTF-8 payload — the denominator of space amplification. */
  def rawBytes: Long =
    8L + 4L * vec.length + text.getBytes("UTF-8").length +
      category.getBytes("UTF-8").length + 8L
}

final case class Edge(id: Long, src: Long, dst: Long)

/** One client operation. `cls` is the operation class the metrics group by. */
sealed trait Op { def cls: String }
final case class Knn(vec: Array[Float], filter: Option[(String, Double)]) extends Op {
  def cls = "knn"
}
final case class Ann(vec: Array[Float]) extends Op { def cls = "ann" }
final case class Text(query: String) extends Op { def cls = "text" }
final case class Match(start: Long) extends Op { def cls = "match" }
/** `expect`: the point this client last wrote under `id` (serve_write's
  * read-your-writes check); None on serve_read, where the loaded data is
  * the truth. */
final case class Get(id: Long, expect: Option[Point]) extends Op { def cls = "get" }
case object Agg extends Op { def cls = "agg" }
final case class Upsert(points: Seq[Point]) extends Op { def cls = "upsert" }
final case class Delete(id: Long) extends Op { def cls = "delete" }

/** The loaded collection: 32 Gaussian clusters in `dim` dimensions, Zipf
  * text over a fixed vocabulary, a skewed category, a price, and a graph
  * with power-law out-degree. */
final case class Data(points: IndexedSeq[Point], edges: IndexedSeq[Edge],
    centroids: IndexedSeq[Array[Float]])

/** Seeded input generator. Everything the engine receives is derived from
  * the workload seed here; the same seed gives the same data and the same
  * per-client operation sequences. */
object Gen {
  val Dim = 128
  val Points = 10000
  val Clusters = 32
  val Vocab = 2000
  val BatchSize = 100
  val Categories: IndexedSeq[String] =
    IndexedSeq("books", "music", "garden", "tools", "games", "sports", "toys", "food")

  /** Words are consonant-vowel syllables spelled from the index: lower
    * case, alphanumeric, at least 4 letters, all distinct — so the BM25
    * tokenizer (lowercase, split on non-alphanumerics, drop length ≤ 1)
    * keeps each word as one term. */
  val words: IndexedSeq[String] = {
    val cons = "bcdfghjklmnprstvz"
    val vow = "aeiou"
    def syl(i: Int) = s"${cons(i % cons.length)}${vow(i / cons.length % vow.length)}"
    val n = cons.length * vow.length
    (0 until Vocab).map(i => syl(i % n) + syl(i / n % n) + syl(i / (n * n)))
  }

  private def cdf(weights: IndexedSeq[Double]): Array[Double] = {
    val c = weights.scanLeft(0.0)(_ + _).tail.toArray
    c.map(_ / c.last)
  }
  private val zipfCdf = cdf((1 to Vocab).map(r => 1.0 / r))
  private val categoryCdf = cdf(Categories.indices.map(k => 1.0 / (k + 1)))
  private def draw(c: Array[Double], r: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(c, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, c.length - 1)
  }

  private def noisy(c: Array[Float], sd: Double, r: java.util.Random): Array[Float] =
    c.map(x => (x + sd * r.nextGaussian()).toFloat)

  /** Text of 8–20 Zipf words. */
  def text(r: java.util.Random): String =
    Seq.fill(8 + r.nextInt(13))(words(draw(zipfCdf, r))).mkString(" ")

  /** A BM25 query: 2–3 distinct Zipf words. */
  def terms(r: java.util.Random): String =
    Seq.fill(2 + r.nextInt(2))(words(draw(zipfCdf, r))).distinct.mkString(" ")

  def point(id: Long, centroids: IndexedSeq[Array[Float]], r: java.util.Random): Point =
    Point(id, noisy(centroids(r.nextInt(Clusters)), 0.35, r), text(r),
      Categories(draw(categoryCdf, r)),
      // two decimals, never integral on the wire: JSON infers a double
      BigDecimal(1.01 + r.nextInt(99900) / 100.0).setScale(2,
        BigDecimal.RoundingMode.HALF_UP).toDouble)

  def data(seed: Long): Data = {
    val r = new java.util.Random(seed)
    val centroids = IndexedSeq.fill(Clusters)(Array.fill(Dim)(r.nextGaussian().toFloat))
    val points = (0 until Points).map(i => point(i.toLong, centroids, r))
    // out-degree ~ floor(Pareto(x_min = 1.5, alpha = 2.5)), capped: ~4
    // edges per node, a few hubs with hundreds
    val edges = mutable.ArrayBuffer.empty[Edge]
    for (src <- 0 until Points) {
      val deg = math.min(400, math.floor(1.5 * math.pow(1.0 - r.nextDouble(), -1.0 / 1.5)).toInt)
      val dsts = mutable.LinkedHashSet.empty[Long]
      while (dsts.size < deg) {
        val d = r.nextInt(Points).toLong
        if (d != src) dsts += d
      }
      dsts.foreach(d => edges += Edge(edges.size.toLong, src.toLong, d))
    }
    Data(points, edges.toIndexedSeq, centroids)
  }

  private def readOp(kind: String, d: Data, r: java.util.Random): Op = {
    def qvec = noisy(d.centroids(r.nextInt(Clusters)), 0.35, r)
    kind match {
      case "knn" => Knn(qvec, None)
      case "knnf" => Knn(qvec, Some((Categories(draw(categoryCdf, r)),
        200.0 + r.nextInt(800))))
      case "ann" => Ann(qvec)
      case "text" => Text(terms(r))
      case "match" => Match(r.nextInt(d.points.size).toLong)
      case "get" => Get(r.nextInt(d.points.size).toLong, None)
      case "agg" => Agg
    }
  }

  /** Phases of one pass, as (class, operation kinds per client). In a
    * phase every client runs its operations of that class, so each class
    * is timed under the same concurrency, and no metric blends classes.
    * The counts are sample sizes, not a traffic model (no measured or
    * published traffic mix exists for this engine): kNN, the headline
    * latency, gets the most, and the slowest classes run on one client to
    * fit the time budget: BM25 text, and ANN, which rebuilds the IVF cells
    * after the writes. serve_write starts with the writes (an upsert on
    * client 0, a delete on client 1), so every read after them follows
    * fresh publishes and sees a known state. */
  def phases(workload: String, scale: Int): Seq[(String, Int => Seq[String])] = {
    def each(kinds: String*): Int => Seq[String] = _ => Seq.fill(scale)(kinds).flatten
    def on(client: Int, kind: String): Int => Seq[String] =
      c => if (c == client) Seq.fill(scale)(kind) else Nil
    workload match {
      case "serve_read" => Seq(
        "knn" -> each("knn", "knn", "knnf", "knnf"),
        "get" -> each("get", "get"),
        "agg" -> each("agg", "agg"),
        "match" -> each("match"),
        "text" -> on(0, "text"))
      case "serve_write" => Seq(
        "write" -> (c => on(0, "upsert")(c) ++ on(1, "delete")(c)),
        "knn" -> each("knn", "knn", "knnf", "knnf"),
        "get" -> each("get", "get"),
        "agg" -> each("agg", "agg"),
        "ann" -> on(0, "ann"))
    }
  }

  /** `passes` passes of the workload's phases: for each phase, one
    * operation list per client. Seeded per client, so the same seed gives
    * the same operations on both sides of a comparison.
    *
    * serve_write: a client writes only ids it owns (original ids ≡ client
    * mod clients, and its own range of new ids), so the final state does
    * not depend on how the clients interleave, and every GET names an id
    * this client has already written; passes continue from one another. */
  def schedule(workload: String, seed: Long, clients: Int, scale: Int, passes: Int,
      d: Data): IndexedSeq[Seq[(String, IndexedSeq[Seq[Op]])]] = {
    val rs = (0 until clients).map(c =>
      new java.util.Random(seed * 1000003L + workload.hashCode * 7919L + c))
    val owned = (0 until clients).map(c => d.points.indices.filter(_ % clients == c).map(_.toLong))
    val nextNew = Array.tabulate(clients)(c => d.points.size.toLong + c * 1000000L)
    val written = IndexedSeq.fill(clients)(mutable.LinkedHashMap.empty[Long, Point])
    def op(c: Int, kind: String): Op = {
      val r = rs(c)
      kind match {
        case "upsert" =>
          val pts = (0 until BatchSize).map { j =>
            val id = if (j % 2 == 0) { nextNew(c) += 1; nextNew(c) }
                     else owned(c)(r.nextInt(owned(c).size))
            point(id, d.centroids, r)
          }.groupBy(_.id).values.map(_.last).toSeq.sortBy(_.id)
          pts.foreach(p => written(c)(p.id) = p)
          Upsert(pts)
        case "delete" =>
          val id = owned(c)(r.nextInt(owned(c).size))
          written(c) -= id
          Delete(id)
        case "get" if written(c).nonEmpty =>
          val ids = written(c).keys.toIndexedSeq
          val id = ids(r.nextInt(ids.size))
          Get(id, Some(written(c)(id)))
        case k => readOp(k, d, r)
      }
    }
    (0 until passes).map { _ =>
      phases(workload, scale).map { case (cls, kinds) =>
        cls -> (0 until clients).map { c =>
          val ks = mutable.ArrayBuffer.from(kinds(c))
          shuffle(ks, rs(c))
          ks.toSeq.map(op(c, _))
        }
      }
    }
  }

  private def shuffle[T](b: mutable.ArrayBuffer[T], r: java.util.Random): Unit =
    for (i <- b.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = b(i); b(i) = b(j); b(j) = t
    }

  /** The collection after `ops` applied in order (serve_write's final
    * state — order across clients does not matter, see [[writeOps]]). */
  def applyWrites(base: Map[Long, Point], ops: Iterable[Op]): Map[Long, Point] =
    ops.foldLeft(base) {
      case (m, Upsert(pts)) => m ++ pts.map(p => p.id -> p)
      case (m, Delete(id)) => m - id
      case (m, _) => m
    }
}
