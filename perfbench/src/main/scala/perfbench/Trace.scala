package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One span: a timed call at a layer boundary. Spans of one op share
  * `request`; `parent` is the id of the span that caused it (0 = none).
  */
final case class Span(id: Long, parent: Long, request: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory and written out when the run ends. Disabled
  * recorders time nothing and keep nothing.
  */
final class Spans(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val all = new ConcurrentLinkedQueue[Span]()

  def newRequest(): Long = ids.incrementAndGet()

  /** Run `body` as span `name`; returns its result and the span. */
  def span[T](request: Long, parent: Long, name: String)(body: => T): (T, Span) = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    val r = body
    val s = Span(id, parent, request, name, t0, System.nanoTime())
    if (enabled) all.add(s)
    (r, s)
  }

  def add(s: Span): Unit = if (enabled) all.add(s)
  def nextId(): Long = ids.incrementAndGet()
  def snapshot: Seq[Span] = all.asScala.toSeq

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try snapshot.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Execution-layer counts per op, from one SparkListener. Jobs are tied to
  * the op through the `perfbench.op` local property the client thread sets.
  */
final class ExecListener extends SparkListener {
  final class OpExec {
    @volatile var jobs = 0
    @volatile var tasks = 0
    @volatile var shuffleBytes = 0L
    @volatile var spillBytes = 0L
    val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
  }
  val ops = new java.util.concurrent.ConcurrentHashMap[String, OpExec]()
  private val jobOp = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val started = new AtomicLong(0)
  private val ended = new AtomicLong(0)

  private def op(id: String) = ops.computeIfAbsent(id, _ => new OpExec)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty(ExecListener.OpKey))).foreach { id =>
      jobOp.put(e.jobId, (id, e.time))
      e.stageIds.foreach(s => stageOp.put(s, id))
      val o = op(id); o.synchronized(o.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobOp.remove(e.jobId)).foreach { case (id, t0) => op(id).intervals.add((t0, e.time)) }
    ended.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { id =>
      val o = op(id)
      val m = e.taskMetrics
      o.synchronized {
        o.tasks += 1
        if (m != null) {
          o.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          o.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** Wait (at most `ms`) until every started job has ended on the bus. */
  def drain(ms: Long): Unit = {
    val until = System.currentTimeMillis() + ms
    while (ended.get() < started.get() && System.currentTimeMillis() < until) Thread.sleep(20)
    Thread.sleep(100)
  }

  /** Wall time of [t0, t1] not covered by any of the op's jobs. */
  def driverGapMs(id: String, t0: Long, t1: Long): Double = {
    val iv = Option(ops.get(id)).map(_.intervals.asScala.toSeq).getOrElse(Nil)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    (t1 - t0 - covered).toDouble
  }
}

object ExecListener { val OpKey = "perfbench.op" }
