package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generator is the only source of the benchmark's inputs: a seed
  * must pin the data and every operation, and another seed must move them. */
class GenSpec extends AnyFunSuite {

  private def pointKey(p: Point) = (p.id, p.vec.toSeq, p.text, p.category, p.price)

  private def opKey(op: Op): Any = op match {
    case Knn(v, f) => ("knn", v.toSeq, f)
    case Ann(v) => ("ann", v.toSeq)
    case Text(q) => ("text", q)
    case Match(a) => ("match", a)
    case Get(id, e) => ("get", id, e.map(pointKey))
    case Agg => "agg"
    case Upsert(pts) => ("upsert", pts.map(pointKey))
    case Delete(id) => ("delete", id)
  }

  private def dataKey(d: Data) = (d.points.map(pointKey), d.edges, d.centroids.map(_.toSeq))

  private def scheduleKey(workload: String, seed: Long, d: Data) =
    Gen.schedule(workload, seed, clients = 4, scale = 1, passes = 2, d)
      .map(_.map { case (cls, perClient) => cls -> perClient.map(_.map(opKey)) })

  private lazy val d7 = Gen.data(7)

  test("the same seed gives identical data; another seed gives different data") {
    assert(dataKey(d7) == dataKey(Gen.data(7)))
    val d8 = Gen.data(8)
    assert(d7.points.map(pointKey) != d8.points.map(pointKey))
    assert(d7.edges != d8.edges)
  }

  test("the data has the advertised shape") {
    assert(d7.points.size == Gen.Points && d7.points.forall(_.vec.length == Gen.Dim))
    assert(d7.points.forall(p => (8 to 20).contains(p.text.split(" ").length)))
    assert(d7.points.map(_.category).toSet == Gen.Categories.toSet)
    assert(d7.edges.forall(e => e.src != e.dst))
    assert(d7.edges.size > 2 * Gen.Points && d7.edges.size < 8 * Gen.Points)
    // every word survives the BM25 tokenizer whole
    assert(Gen.words.forall(w => Oracle.tokenize(w).sameElements(Array(w))))
    assert(Gen.words.distinct.size == Gen.Vocab)
  }

  for (w <- Seq("serve_read", "serve_write"))
    test(s"$w: the same seed gives the same operations; another seed different ones") {
      val a = scheduleKey(w, 7, d7)
      assert(a == scheduleKey(w, 7, d7))
      assert(a != scheduleKey(w, 8, d7))
    }

  test("serve_write clients write disjoint ids, and GETs read the client's own last write") {
    val passes = Gen.schedule("serve_write", 7, clients = 4, scale = 1, passes = 2, d7)
    val perClient = (0 until 4).map(c => passes.flatMap(_.flatMap(_._2(c))))
    val writes = perClient.map(_.flatMap {
      case Upsert(pts) => pts.map(_.id)
      case Delete(id) => Seq(id)
      case _ => Nil
    }.toSet)
    for (a <- 0 until 4; b <- a + 1 until 4) assert((writes(a) & writes(b)).isEmpty)
    perClient.foreach { ops =>
      var last = Map.empty[Long, Point]
      ops.foreach {
        case Upsert(pts) => last ++= pts.map(p => p.id -> p)
        case Delete(id) => last -= id
        case Get(id, Some(p)) => assert(last.get(id).contains(p))
        case _ =>
      }
    }
  }

  test("oracle: BM25 and cosine top-k on a hand-checked corpus") {
    val v = Array(1f, 0f)
    val pts = Seq(
      Point(1, Array(1f, 0f), "red fox", "a", 1.0),
      Point(2, Array(0f, 1f), "red red dog", "a", 1.0),
      Point(3, Array(1f, 1f), "blue whale x", "b", 1.0))
    val o = new Oracle(pts, Nil)
    assert(o.knn(v, 2, None).map(_._1) == Seq(1L, 3L))
    assert(o.knn(v, 2, Some(("a", 2.0))).map(_._1) == Seq(1L, 2L))
    // N = 3, avgdl = 7/3; "red": df = 2 → idf = ln(1.5/2.5 + 1)
    val idf = math.log(1.5 / 2.5 + 1.0)
    def s(tf: Int, dl: Int) = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (7.0 / 3)))
    val got = Oracle.top(o.bm25Scores("Red!"), 10)
    assert(got.map(_._1) == Seq(2L, 1L))
    assert(math.abs(got.head._2 - s(2, 3)) < 1e-12 && math.abs(got(1)._2 - s(1, 2)) < 1e-12)
    assert(Oracle.tokenize("blue whale x") sameElements Array("blue", "whale"))
  }
}
