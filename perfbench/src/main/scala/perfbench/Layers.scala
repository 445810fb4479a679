package perfbench

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Spark work attributed to one operation. */
final class SparkWork {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val rowsRead = new AtomicLong
}

/** Collects jobs, stages, tasks, shuffle, spill and input rows per
  * operation. A client thread tags its jobs with the local property
  * [[OpTracker.Key]]; untagged jobs are ignored. */
final class OpTracker extends SparkListener {
  private val byOp = new ConcurrentHashMap[String, SparkWork]()
  private val stageOp = new ConcurrentHashMap[Int, String]()

  def work(op: String): SparkWork = byOp.computeIfAbsent(op, _ => new SparkWork)
  def ops: Map[String, SparkWork] = byOp.asScala.toMap

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(OpTracker.Key))).foreach { op =>
      val w = work(op)
      w.jobs.incrementAndGet()
      e.stageIds.foreach(s => stageOp.put(s, op))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach(op => work(op).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val w = work(op)
      w.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        w.taskMs.addAndGet(m.executorRunTime)
        w.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        w.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        w.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        w.rowsRead.addAndGet(m.inputMetrics.recordsRead)
      }
    }
}

object OpTracker {
  val Key = "perfbench.op"
}

/** One timed step of an operation: name, start, end (ns, monotonic),
  * parent span name ("" for the root) and operation id. */
final case class Span(name: String, start: Long, end: Long, parent: String, op: String) {
  def ms: Double = (end - start) / 1e6
  def json: String =
    s"""{"name":"$name","start":$start,"end":$end,"parent":"$parent","op":"$op"}"""
}

/** In-memory span log, written out once at the end of the run. */
final class Spans {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def all: Seq[Span] = buf.asScala.toSeq

  def time[T](op: String, name: String, parent: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally buf.add(Span(name, t0, System.nanoTime(), parent, op))
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, all.map(_.json).asJava)
  }
}
