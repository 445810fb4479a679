package perfbench

import graft.Graft
import graft.server.RestServer
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Serving benchmark over an in-process RestServer.
  *
  * {{{
  * perfbench.Main --workload serve_read|serve_write --seed N --seconds S --trace 0|1
  * }}}
  * System properties `perfbench.data` (collection dir), `perfbench.local`
  * (Spark local dir), `perfbench.spans` (span log) and `perfbench.commit`
  * come from run.py. Prints `ENV {…}` (the run's environment record) and
  * ends with `RESULT {…}`, which carries every metric; run.py keeps the
  * ones BENCHMARK.json names. */
object Main {
  val Coll = "items"
  val Workloads = Set("serve_read", "serve_write")
  /** Collection loads per run; setup_s takes their median. */
  val SetupRounds = 3

  def collDir(g: Graft, c: String): Path = Paths.get(g.dataDir, c)

  /** `scale`: every phase's operation count is multiplied by seconds / 20
    * (at least 1); one pass at scale 1 takes 20–40 s on 4 cores. */
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean) {
    def scale: Int = math.max(1, seconds / 20)
  }

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = m.getOrElse("workload", sys.error("--workload required"))
    require(Workloads.contains(w), s"unknown workload '$w'")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val dataDir = sys.props.getOrElse("perfbench.data", sys.error("-Dperfbench.data required"))
    val builder = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(dataDir, "warehouse").toString)
      .config(graft.SessionTuning.localConfigMap)
    // each run owns its shuffle dir, like its data dir and java.io.tmpdir
    sys.props.get("perfbench.local").foreach(d => builder.config("spark.local.dir", d))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args, cores, dataDir) finally spark.stop()
  }

  final class Result {
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val recall = mutable.ArrayBuffer.empty[Double]
    def record(ok: Boolean, what: => String): Unit = synchronized {
      attempted += 1
      if (!ok) { failed += 1; failures += what }
    }
  }

  private def run(spark: SparkSession, args: Args, cores: Int, dataDir: String): Unit = {
    val data = Gen.data(args.seed)
    val g = Graft(spark, dataDir)
    val srv = new RestServer(g, port = 0).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    val startupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    try {
      val res = new Result
      val derived = Paths.get(sys.props("java.io.tmpdir"), "graft-derived")

      // ---- set-up: start-up plus the median of SetupRounds loads. Every
      // load but the last goes to a scratch Graft with its own data dir,
      // deleted after; the last one loads the served collection ----
      val loadS = (1 to SetupRounds).map { i =>
        val scratch = Paths.get(dataDir).resolveSibling(s"setup-$i")
        val target = if (i == SetupRounds) g else Graft(spark, scratch.toString)
        val t0 = System.nanoTime()
        setup(target, data, edges = args.workload == "serve_read")
        val s = (System.nanoTime() - t0) / 1e9
        if (target ne g) Disk.delete(scratch)
        s
      }
      val setupS = startupS + percentile(loadS, 0.5)
      stage("set-up")

      // ---- idle probe: three exact kNN requests before the window (recorded only) ----
      val probeRng = new java.util.Random(args.seed ^ 0x5eedL)
      val probe = (0 until 3).map(_ => new RestClient(base, Coll).run(
        Knn(queryVector(data, probeRng), None)).ms)
      stage("idle probe")

      // ---- measured window over REST ----
      val passes = Gen.schedule(args.workload, args.seed, cores, args.scale, passes = 2, data)
      def perClient(ps: Seq[Seq[(String, IndexedSeq[Seq[Op]])]]) =
        (0 until cores).map(c => ps.flatMap(_.flatMap(_._2(c))))
      // ANN, serve_write's last phase, rebuilds the IVF cells the writes made
      // stale: ~20 s, a third of a run. Only traced runs pay for it, and
      // report ann_p50_ms and recall_at_10 from their REST phases.
      val restOps = if (args.trace) passes(0) else passes(0).filterNot(_._1 == "ann")
      // reads run after the pass's writes, so the oracle state is known
      val initial = data.points.map(p => p.id -> p).toMap
      val afterRest = Gen.applyWrites(initial, perClient(Seq(restOps)).flatten)
      val gc0 = gcMs()
      val phases = window(restOps, c => new RestClient(base, Coll).run)
      val replies = phases.flatMap(_.replies)
      val wallS = phases.map(_.wallS).sum
      val gcPerS = (gcMs() - gc0) / wallS
      stage("window")
      check(replies, new Oracle(afterRest.values, data.edges), res)
      stage("checks")

      // ---- traced window: fresh Graft (empty parse and plan caches), layers in process.
      // serve_read replays the same operations; serve_write continues its schedule ----
      val tracedOps = if (args.workload == "serve_read") restOps else passes(1)
      val traced = if (!args.trace) None else {
        val tracker = new OpTracker
        spark.sparkContext.addSparkListener(tracker)
        val spans = new Spans
        val tc = new TracedClient(Graft(spark, dataDir), Coll, spans)
        val d0 = Disk.dirs(derived)
        val tr = window(tracedOps, _ => tc.run)
        val afterTraced = Gen.applyWrites(afterRest, perClient(Seq(tracedOps)).flatten)
        check(tr.flatMap(_.replies), new Oracle(afterTraced.values, data.edges), res)
        Thread.sleep(500) // let the listener bus deliver the last task ends
        spark.sparkContext.removeSparkListener(tracker)
        sys.props.get("perfbench.spans").foreach(p => spans.write(Paths.get(p)))
        Some(Traced(tr, tc, spans, tracker, d0))
      }

      val heapMb = liveHeapMb()
      stage("heap")
      val live = Gen.applyWrites(initial, perClient(if (args.trace) passes else Seq(restOps)).flatten)
      val spaceAmp = Disk.bytes(collDir(g, Coll)).toDouble / live.values.map(_.rawBytes).sum

      val ok = replies.filter(_.ok)
      def p(cls: String, q: Double) = percentile(ok.filter(_.op.cls == cls).map(_.ms), q)
      val classes = ok.map(_.op.cls).toSet
      def sampled(cls: String, ms: Seq[(String, Double, String)]) =
        if (classes.contains(cls)) ms else Nil
      // throughput and CPU per class, each from its own phase: no traffic
      // mix is known to weight the classes by
      val perClass = phases.flatMap(ph => Seq(
        (s"${ph.cls}_ops_per_s", ph.okPerS, "1/s"),
        (s"${ph.cls}_cpu_ms_per_op", ph.cpuMsPerOp, "ms")))
      val endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("knn_p50_ms", p("knn", 0.5), "ms"),
        ("knn_p90_ms", p("knn", 0.9), "ms"),
        ("get_p50_ms", p("get", 0.5), "ms"),
        ("agg_p50_ms", p("agg", 0.5), "ms")) ++
        sampled("match", Seq(("match_p50_ms", p("match", 0.5), "ms"))) ++
        sampled("text", Seq(("text_p50_ms", p("text", 0.5), "ms"))) ++
        sampled("ann", Seq(("ann_p50_ms", p("ann", 0.5), "ms"),
          ("recall_at_10", mean(res.recall.toSeq), "ratio"))) ++
        sampled("upsert", Seq(("upsert_p50_ms", p("upsert", 0.5), "ms"),
          ("upsert_p90_ms", p("upsert", 0.9), "ms"))) ++ Seq(
        ("fail_ratio", res.failed.toDouble / res.attempted, "ratio"),
        ("ok_ratio", 1.0 - res.failed.toDouble / res.attempted, "ratio"),
        ("space_amp", spaceAmp, "x"),
        ("heap_live_mb", heapMb, "MB")) ++ perClass
      val metrics = endToEnd ++ traced.toSeq.flatMap(t =>
        layerMetrics(cores, phases, t, gcPerS, derived, g))

      val counts = replies.groupBy(_.op.cls).map { case (k, v) => s"${q(k)}:${v.size}" }
      val conf = spark.conf.getAll.toSeq.sorted.map { case (k, v) => s"${q(k)}:${q(v)}" }
      println("ENV " + Seq(
        s""""workload":${q(args.workload)}""", s""""seed":${args.seed}""",
        s""""seconds":${args.seconds}""", s""""trace":${args.trace}""",
        s""""nproc":$cores""", s""""max_heap_mb":${Runtime.getRuntime.maxMemory >> 20}""",
        s""""commit":${q(sys.props.getOrElse("perfbench.commit", "unknown"))}""",
        s""""spark_conf":${conf.mkString("{", ",", "}")}""",
        s""""op_counts":${counts.mkString("{", ",", "}")}""",
        s""""wall_s":${num(wallS)}""",
        s""""phase_s":${phases.map(ph => s"{${q(ph.cls)}:${num(ph.wallS)}}").mkString("[", ",", "]")}""",
        s""""startup_s":${num(startupS)}""",
        s""""load_s":${loadS.map(num).mkString("[", ",", "]")}""",
        s""""idle_probe_knn_ms":${probe.map(num).mkString("[", ",", "]")}""",
        s""""idle_probe_spread_ms":${num(probe.max - probe.min)}""",
        s""""failures":${res.failures.take(10).map(q).mkString("[", ",", "]")}"""
      ).mkString("{", ",", "}"))
      if (res.failures.nonEmpty)
        System.err.println(s"perfbench: ${res.failed} of ${res.attempted} checks failed, " +
          s"e.g. ${res.failures.head}")
      val ms = metrics.map { case (k, v, u) => s"${q(k)}:{\"value\":${num(v)},\"unit\":${q(u)}}" }
      println("RESULT {" + s""""correct":${res.failed == 0},"attempted":${res.attempted},""" +
        s""""failed":${res.failed},"metrics":${ms.mkString("{", ",", "}")}}""")
    } finally srv.stop()
  }

  private def queryVector(d: Data, r: java.util.Random): Array[Float] =
    d.centroids(r.nextInt(Gen.Clusters)).map(x => (x + 0.35 * r.nextGaussian()).toFloat)

  // ---------------- set-up ----------------

  /** Create the collection and load the points (and, for serve_read's
    * MATCH, the edges) through `Collections`. Nothing else is built ahead:
    * BM25 over a user collection scores in-query, and serve_write's IVF
    * cells go stale at every publish, so its ANN requests build them. */
  private def setup(g: Graft, d: Data, edges: Boolean): Unit = {
    g.collections.create(Coll, idCol = "id", vectorCol = Some("vector"), metric = "cosine")
    g.collections.upsert(Coll, Frames.points(g.spark, d.points))
    if (edges) g.collections.upsertEdges(Coll, Frames.edges(g.spark, d.edges))
  }

  // ---------------- measured window ----------------

  /** One phase of a window: its class, wall seconds, process CPU ms and replies. */
  final case class Phase(cls: String, wallS: Double, cpuMs: Double, replies: Seq[Reply]) {
    def okPerS: Double = replies.count(_.ok) / wallS
    def cpuMsPerOp: Double = cpuMs / math.max(1, replies.size)
  }

  /** Runs the phases in order; in each, one closed-loop client thread per
    * operation list. */
  private def window(phases: Seq[(String, IndexedSeq[Seq[Op]])],
      exec: Int => Op => Reply): Seq[Phase] = {
    val runs = phases.head._2.indices.map(exec)
    phases.map { case (cls, perClient) =>
      val (t0, cpu0) = (System.nanoTime(), cpuMs())
      val got = perClient.map(_ => mutable.ArrayBuffer.empty[Reply])
      val threads = perClient.indices.map { c =>
        val t = new Thread(() => perClient(c).foreach(op => got(c) += runs(c)(op)))
        t.start()
        t
      }
      threads.foreach(_.join())
      Phase(cls, (System.nanoTime() - t0) / 1e9, cpuMs() - cpu0, got.flatten.toSeq)
    }
  }

  // ---------------- oracles ----------------

  private def check(replies: Seq[Reply], o: Oracle, res: Result): Unit =
    replies.foreach { r =>
      def fail(why: String) = s"${r.op.cls}: $why"
      r.op match {
        case _ if !r.ok && !r.op.isInstanceOf[Get] => res.record(false, fail(s"HTTP ${r.status} ${r.error}"))
        case Knn(v, f) =>
          res.record(Oracle.sameRanking(r.hits, o.knn(v, 10, f), id => o.cosineOf(id, v, f), 1e-4),
            fail(s"top-10 differs from brute force (filter=$f)"))
        case Ann(v) =>
          res.record(r.hits.size == 10 && r.hits.forall(h => o.point(h._1).isDefined),
            fail("fewer than 10 hits or unknown ids"))
          res.recall += Oracle.recall(r.hits.map(_._1), o.knn(v, 10, None).map(_._1))
        case Text(q) =>
          val scores = o.bm25Scores(q)
          val want = Oracle.top(scores, 10)
          res.record(Oracle.sameRanking(r.hits, want, scores.get, 1e-6),
            fail(s"BM25 top-10 for '$q': got ${r.hits.take(3)}…, want ${want.take(3)}…"))
        case Match(a) =>
          res.record(r.ends.toSet == o.twoHop(a), fail(s"2-hop set from node $a differs"))
        case Get(id, expect) =>
          // serve_write: the point this client wrote; serve_read: the loaded one
          res.record(samePoint(r, expect.orElse(o.point(id))), fail(s"point $id differs"))
        case Agg => res.record(r.groups == o.categoryCounts, fail("category counts differ"))
        case _ => res.record(true, "")
      }
    }

  private def samePoint(r: Reply, expect: Option[Point]): Boolean =
    (Option(r.body), expect) match {
      case (Some(b), Some(p)) if r.ok =>
        b.get("id").asLong == p.id && b.get("text").asText == p.text &&
          b.get("category").asText == p.category && b.get("price").asDouble == p.price &&
          b.get("vector").elements().asScala.map(_.floatValue).toSeq == p.vec.toSeq
      case (_, None) => r.status == 404
      case _ => false
    }

  // ---------------- per-layer metrics (traced runs) ----------------

  final case class Traced(phases: Seq[Phase], client: TracedClient,
      spans: Spans, tracker: OpTracker, derivedBefore: Int) {
    def wallS: Double = phases.map(_.wallS).sum
  }

  private def layerMetrics(cores: Int, rest: Seq[Phase], t: Traced,
      gcPerS: Double, derived: Path, g: Graft): Seq[(String, Double, String)] = {
    val restOk = rest.flatMap(_.replies).filter(_.ok)
    val facts = t.client.factList
    val queries = facts.map(_._2).filter(_.parseHitUs > 0)
    val fresh = queries.filter(_.fresh)
    val upserts = facts.map(_._2).filter(_.cls == "upsert")
    val work = t.tracker.ops
    def sum(f: SparkWork => Long, ids: Seq[String] = facts.map(_._1)) =
      ids.flatMap(work.get).map(f).sum.toDouble
    val nOps = math.max(1, facts.size).toDouble
    val clsOf = facts.map { case (id, f) => id -> f.cls }.toMap
    def spanMs(name: String, cls: String => Boolean = _ => true) =
      t.spans.all.filter(s => s.name == name && cls(clsOf.getOrElse(s.op, ""))).map(_.ms)
    val ann = facts.filter(_._2.cls == "ann")
    val trOk = t.phases.flatMap(_.replies).filter(_.ok)
    def p50(cls: String, rs: Seq[Reply]) = percentile(rs.filter(_.op.cls == cls).map(_.ms), 0.5)
    def knnPerS(ps: Seq[Phase]) = ps.filter(_.cls == "knn").map(_.okPerS).sum
    // the run's java.io.tmpdir is private, so everything derived is this run's
    val dirsNow = Disk.dirs(derived)
    Seq(
      ("server.self_ms",
        percentile(restOk.filterNot(_.engineMs.isNaN).map(r => r.ms - r.engineMs), 0.5), "ms"),
      ("server.response_kb", mean(restOk.map(_.bytes / 1024.0)), "kB"),
      ("velesql.parse_miss_us", percentile(queries.map(_.parseMissUs), 0.5), "us"),
      ("velesql.parse_hit_us", percentile(queries.map(_.parseHitUs), 0.5), "us"),
      ("graft.plan_cache_hit_ratio",
        queries.count(_.planHit).toDouble / math.max(1, queries.size), "ratio")
    ) ++ Seq("knn", "ann", "text", "match", "agg").map(c =>
      (s"graft.sql_ms.$c", percentile(spanMs("graft.sql", _ == c), 0.5), "ms")) ++ Seq(
      ("catalyst.analysis_ms", percentile(fresh.map(_.analysisMs), 0.5), "ms"),
      ("catalyst.optimization_ms", percentile(fresh.map(_.optimizationMs), 0.5), "ms"),
      ("catalyst.planning_ms", percentile(fresh.map(_.planningMs), 0.5), "ms"),
      ("spark.jobs_per_op", sum(_.jobs.get) / nOps, "count"),
      ("spark.stages_per_op", sum(_.stages.get) / nOps, "count"),
      ("spark.tasks_per_op", sum(_.tasks.get) / nOps, "count"),
      ("spark.task_ms_per_op", sum(_.taskMs.get) / nOps, "ms"),
      ("spark.core_busy_ratio", sum(_.taskMs.get) / (t.wallS * 1000.0 * cores), "ratio"),
      ("spark.shuffle_read_kb_per_op", sum(_.shuffleRead.get) / 1024.0 / nOps, "kB"),
      ("spark.shuffle_write_kb_per_op", sum(_.shuffleWrite.get) / 1024.0 / nOps, "kB"),
      ("spark.spill_kb", sum(_.spill.get) / 1024.0, "kB"),
      ("spark.rows_read_per_result",
        sum(_.rowsRead.get, ann.map(_._1)) / math.max(1, ann.map(_._2.resultRows).sum), "count"),
      ("spark.collect_ms", percentile(spanMs("spark.collect"), 0.5), "ms"),
      ("materialize.builds", dirsNow.toDouble, "count"),
      ("materialize.window_builds", (dirsNow - t.derivedBefore).toDouble, "count"),
      ("materialize.mb", Disk.bytes(derived) / 1e6, "MB"),
      ("collections.upsert_ms", percentile(spanMs("collections.upsert"), 0.5), "ms"),
      ("collections.bytes_written_per_user_byte",
        upserts.map(_.bytesWritten).sum.toDouble / math.max(1L, upserts.map(_.userBytes).sum),
        "ratio"),
      ("collections.files_per_upsert",
        upserts.map(_.filesWritten).sum.toDouble / math.max(1, upserts.size), "count"),
      ("collections.live_generations", Disk.generations(collDir(g, Coll)).toDouble, "count"),
      ("jvm.gc_ms_per_s", gcPerS, "ms/s"),
      ("trace.overhead_knn_p50_ms", p50("knn", trOk) - p50("knn", restOk), "ms"),
      ("trace.overhead_knn_ops_per_s", knnPerS(t.phases) - knnPerS(rest), "1/s"))
  }

  // ---------------- helpers ----------------

  /** Logs the end of a stage, in seconds since JVM start, to stderr. */
  private def stage(what: String): Unit =
    System.err.println(f"perfbench: $what done at ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s")

  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  /** CPU time of this process (all threads), in ms. */
  private def cpuMs(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => 0.0
  }

  /** Least heap in use after a full collection, over three tries a
    * moment apart, so that one try while Spark's background threads still
    * hold short-lived objects does not count. */
  private def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }.min

  private def q(s: String): String = Json.mapper.writeValueAsString(s)
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}
