package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.Graft
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.jdk.CollectionConverters._

/** What one operation returned, as far as the oracles and metrics need it. */
final case class Reply(op: Op, status: Int, ms: Double, engineMs: Double,
    bytes: Int, body: JsonNode) {
  def ok: Boolean = status / 100 == 2
  def error: String =
    Option(body).flatMap(b => Option(b.get("error"))).map(_.asText.take(300)).getOrElse("")
  private def results: Seq[JsonNode] =
    Option(body).flatMap(b => Option(b.get("results"))).toSeq.flatMap(_.elements().asScala)
  def hits: Seq[(Long, Double)] = results.map(r => r.get("id").asLong -> r.get("score").asDouble)
  def ends: Seq[Long] = results.map(_.get("d").asLong)
  def groups: Map[String, Long] =
    results.map(r => r.get("category").asText -> r.get("n").asLong).toMap
}

/** The VelesQL each operation runs: what RestServer's search and match
  * routes generate, and the BM25 and aggregation queries sent to /query. */
object Vql {
  val AggQuery: String = "SELECT category, COUNT(*) AS n FROM %s GROUP BY category"
  def matchQuery(start: Long): String =
    s"MATCH (a)-[:link]->(b)-[:link]->(c) WHERE a.id = $start RETURN c.id AS d"

  /** (query text, params, graph scope) for a read through [[Graft.sql]]. */
  def of(op: Op, c: String): (String, Map[String, Any], Option[String]) = op match {
    case Knn(v, None) =>
      (s"SELECT * FROM $c WHERE vector NEAR $$__v LIMIT 10", Map("__v" -> v.toSeq), None)
    case Knn(v, Some((cat, maxPrice))) =>
      (s"SELECT * FROM $c WHERE (category = $$f0 AND price < $$f1) AND vector NEAR $$__v LIMIT 10",
        Map("__v" -> v.toSeq, "f0" -> cat, "f1" -> maxPrice), None)
    case Ann(v) =>
      (s"SELECT * FROM $c WHERE vector NEAR $$__v LIMIT 10 WITH (mode = 'balanced', index = 'ivf')",
        Map("__v" -> v.toSeq), None)
    case Text(q) =>
      (s"SELECT * FROM $c WHERE text MATCH '$q' ORDER BY score DESC LIMIT 10", Map.empty, None)
    case Match(a) => (matchQuery(a), Map.empty, Some(c))
    case Agg => (AggQuery.format(c), Map.empty, None)
    case other => throw new IllegalArgumentException(s"not a query: $other")
  }
}

object Json {
  val mapper = new ObjectMapper()

  def vector(o: ObjectNode, field: String, v: Array[Float]): Unit = {
    val a = o.putArray(field)
    v.foreach(x => a.add(x))
  }

  def pointsBody(pts: Seq[Point]): String = {
    val root = mapper.createObjectNode()
    val arr = root.putArray("points")
    pts.foreach { p =>
      val o = arr.addObject()
      o.put("id", p.id)
      vector(o, "vector", p.vec)
      val pay = o.putObject("payload")
      pay.put("text", p.text)
      pay.put("category", p.category)
      pay.put("price", p.price)
    }
    root.toString
  }
}

/** A closed-loop client that speaks HTTP to an in-process RestServer. */
final class RestClient(base: String, coll: String) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def request(op: Op): HttpRequest = {
    def post(path: String, body: String) =
      HttpRequest.newBuilder(URI.create(s"$base$path"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    def search(v: Array[Float]) = {
      val o = Json.mapper.createObjectNode()
      Json.vector(o, "vector", v)
      o.put("top_k", 10)
      o
    }
    op match {
      case Knn(v, f) =>
        val o = search(v)
        f.foreach { case (cat, maxPrice) =>
          val cond = o.putObject("filter").putObject("condition")
          cond.put("type", "and")
          val cs = cond.putArray("conditions")
          cs.addObject().put("type", "eq").put("field", "category").put("value", cat)
          cs.addObject().put("type", "lt").put("field", "price").put("value", maxPrice)
        }
        post(s"/collections/$coll/search", o.toString)
      case Ann(v) =>
        val o = search(v)
        o.put("mode", "balanced").put("index", "ivf")
        post(s"/collections/$coll/search", o.toString)
      case Text(_) =>
        // through /query with an explicit ranking: the search/text route
        // sends no ORDER BY, so it returns matching docs unranked
        post("/query", Json.mapper.createObjectNode().put("query", Vql.of(op, coll)._1).toString)
      case Match(a) =>
        post(s"/collections/$coll/match",
          Json.mapper.createObjectNode().put("match", Vql.matchQuery(a)).toString)
      case Agg =>
        post("/query", Json.mapper.createObjectNode().put("query", Vql.AggQuery.format(coll)).toString)
      case Get(id, _) =>
        HttpRequest.newBuilder(URI.create(s"$base/collections/$coll/points/$id")).GET().build()
      case Upsert(pts) => post(s"/collections/$coll/points", Json.pointsBody(pts))
      case Delete(id) =>
        HttpRequest.newBuilder(URI.create(s"$base/collections/$coll/points/$id")).DELETE().build()
    }
  }

  def run(op: Op): Reply = {
    val req = request(op)
    val t0 = System.nanoTime()
    val (status, body) =
      try {
        val r = http.send(req, HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      } catch { case e: Exception => (-1, "") }
    val ms = (System.nanoTime() - t0) / 1e6
    val node = try Json.mapper.readTree(body) catch { case _: Exception => null }
    val engineMs = Option(node).flatMap(n => Option(n.get("timing_ms")))
      .map(_.asDouble).getOrElse(Double.NaN)
    Reply(op, status, ms, engineMs, body.getBytes("UTF-8").length, node)
  }
}

/** The traced client: calls each layer's public entry point in process,
  * in the order the route would — `Graft.parse`, `Graft.sql`,
  * `queryExecution.executedPlan`, `toJSON.collect` — or `Collections`
  * directly for point reads and writes. Jobs are tagged with the
  * operation id for [[OpTracker]]; every step is a [[Span]]. */
final class TracedClient(g: Graft, coll: String, spans: Spans) {
  private val spark: SparkSession = g.spark
  /** Serializes this client's writes, so a file listing before and after
    * a write sees that write alone. */
  private val writeLock = new Object

  /** Per-operation layer facts the spans do not carry. */
  final case class Facts(cls: String, planHit: Boolean = false, fresh: Boolean = false,
      analysisMs: Double = 0, optimizationMs: Double = 0, planningMs: Double = 0,
      parseMissUs: Double = 0, parseHitUs: Double = 0, resultRows: Int = 0,
      bytesWritten: Long = 0, filesWritten: Int = 0, userBytes: Long = 0)

  val facts = new java.util.concurrent.ConcurrentLinkedQueue[(String, Facts)]()
  def factList: Seq[(String, Facts)] = facts.asScala.toSeq
  private val seenPlans = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, java.lang.Boolean]())
  private val counter = new java.util.concurrent.atomic.AtomicLong()

  def run(op: Op): Reply = {
    val id = s"op${counter.incrementAndGet()}"
    spark.sparkContext.setLocalProperty(OpTracker.Key, id)
    val t0 = System.nanoTime()
    try {
      val (rows, f) = spans.time(id, s"op.${op.cls}", "")(exec(id, op))
      val ms = (System.nanoTime() - t0) / 1e6
      facts.add(id -> f)
      val body = "{\"results\":[" + rows.mkString(",") + "]}"
      val node = if (op.isInstanceOf[Get]) rows.headOption.map(Json.mapper.readTree).orNull
                 else Json.mapper.readTree(body)
      val status = op match {
        case _: Get if rows.isEmpty => 404
        case _ => 200
      }
      Reply(op, status, ms, Double.NaN, body.length, node)
    } catch {
      case _: Exception => Reply(op, 500, (System.nanoTime() - t0) / 1e6, Double.NaN, 0, null)
    } finally spark.sparkContext.setLocalProperty(OpTracker.Key, null)
  }

  private def exec(id: String, op: Op): (Array[String], Facts) = {
    val parent = s"op.${op.cls}"
    val none = Facts(op.cls)
    op match {
      case Upsert(pts) =>
        val df = Frames.points(spark, pts)
        val (bytes, files) = writeLock.synchronized {
          val before = Disk.files(Main.collDir(g, coll))
          spans.time(id, "collections.upsert", parent)(g.collections.upsert(coll, df))
          Disk.newFiles(before, Disk.files(Main.collDir(g, coll)))
        }
        (Array.empty, none.copy(bytesWritten = bytes, filesWritten = files,
          userBytes = pts.map(_.rawBytes).sum))
      case Delete(pid) =>
        writeLock.synchronized {
          spans.time(id, "collections.delete", parent)(g.collections.delete(coll, Seq(pid)))
        }
        (Array.empty, none)
      case Get(pid, _) =>
        val rows = spans.time(id, "collections.get", parent)(
          g.collections.get(coll, Seq(pid)).toJSON.collect())
        (rows, none.copy(resultRows = rows.length))
      case _ =>
        val (text, params, scope) = Vql.of(op, coll)
        val missUs = spans.time(id, "velesql.parse_uncached", parent) {
          val t = System.nanoTime(); graft.velesql.Parser.parse(text); (System.nanoTime() - t) / 1e3
        }
        g.parse(text) // first sight fills the parse cache; the timed call below hits it
        val hitUs = spans.time(id, "velesql.parse", parent) {
          val t = System.nanoTime(); g.parse(text); (System.nanoTime() - t) / 1e3
        }
        val df = spans.time(id, "graft.sql", parent)(g.sql(text, params, graphScope = scope))
        val hit = seenPlans.put(df, java.lang.Boolean.TRUE) != null
        val shaped = if (op.isInstanceOf[Knn] || op.isInstanceOf[Ann] || op.isInstanceOf[Text]) {
          val rest = df.columns.filterNot(c => c == "id" || c == "score")
          df.select(col("id"), col("score"), struct(rest.map(col).toIndexedSeq: _*).as("payload"))
        } else df
        // a reused DataFrame has planned already: its phases are not this op's
        val fresh = !(shaped eq df) || !hit
        spans.time(id, "catalyst.executedPlan", parent)(shaped.queryExecution.executedPlan)
        val rows = spans.time(id, "spark.collect", parent)(shaped.toJSON.collect())
        val ph = shaped.queryExecution.tracker.phases
        def phase(n: String) = ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
        (rows, none.copy(planHit = hit, fresh = fresh, analysisMs = phase("analysis"),
          optimizationMs = phase("optimization"), planningMs = phase("planning"),
          parseMissUs = missUs, parseHitUs = hitUs, resultRows = rows.length))
    }
  }
}

object Frames {
  private val pointSchema = StructType(Seq(
    StructField("id", LongType), StructField("vector", ArrayType(FloatType)),
    StructField("text", StringType), StructField("category", StringType),
    StructField("price", DoubleType)))
  private val edgeSchema = StructType(Seq(StructField("id", LongType),
    StructField("src", LongType), StructField("dst", LongType), StructField("label", StringType)))

  /** Points with the column types the REST upsert route produces. */
  def points(spark: SparkSession, pts: Seq[Point]): DataFrame =
    spark.createDataFrame(pts.map(p => Row(p.id, p.vec.toSeq, p.text, p.category, p.price)).asJava,
      pointSchema)

  def edges(spark: SparkSession, es: Seq[Edge]): DataFrame =
    spark.createDataFrame(es.map(e => Row(e.id, e.src, e.dst, "link")).asJava, edgeSchema)
}

/** File listings of a collection directory, for write amplification. */
object Disk {
  def files(dir: java.nio.file.Path): Map[String, Long] =
    if (!java.nio.file.Files.exists(dir)) Map.empty
    else {
      val s = java.nio.file.Files.walk(dir)
      // a concurrent publish may delete files mid-walk: skip them
      try s.iterator().asScala.flatMap { p =>
        try if (java.nio.file.Files.isRegularFile(p))
          Some(p.toString -> java.nio.file.Files.size(p)) else None
        catch { case _: java.io.IOException => None }
      }.toMap
      catch { case _: java.io.UncheckedIOException => files(dir) }
      finally s.close()
    }

  def bytes(dir: java.nio.file.Path): Long = files(dir).values.sum

  /** Removes `dir` and everything under it. */
  def delete(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }

  private def children(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!java.nio.file.Files.isDirectory(dir)) Nil
    else {
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala.toSeq finally s.close()
    }

  /** Entries directly under `dir` (one per derived artifact). */
  def dirs(dir: java.nio.file.Path): Int = children(dir).size

  /** Point generations (`points-g*` dirs) a collection holds on disk. */
  def generations(dir: java.nio.file.Path): Int =
    children(dir).count(_.getFileName.toString.startsWith("points-g"))

  /** (bytes, count) of files that are new or changed in `after`. */
  def newFiles(before: Map[String, Long], after: Map[String, Long]): (Long, Int) = {
    val changed = after.filter { case (p, n) => !before.get(p).contains(n) }
    (changed.values.sum, changed.size)
  }
}
