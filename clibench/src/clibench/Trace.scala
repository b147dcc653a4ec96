package clibench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call. Times are `System.nanoTime`; `request` groups the
  * spans of one CLI operation. */
final class Span(val id: Int, val parent: Int, val request: Int,
    val name: String, val layer: String, val start: Long) {
  var end: Long = -1L
  def dur: Long = end - start
}

/** In-memory span recorder for the single client thread. Entering a
  * span sets the Spark local property [[Tracer.Prop]] so that jobs
  * started inside it (also from threads the call spawns, which inherit
  * local properties) are attributed to it by [[SpanListener]].
  */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var requests = 0
  private val ns0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()

  /** Epoch-millisecond clock of the listener events, in span time. */
  def nanosOfEpochMs(ms: Long): Long = ns0 + (ms - ms0) * 1000000L

  /** A root span: a new request id, layer `cli`. */
  def request[T](name: String)(body: => T): (T, Span) = {
    requests += 1
    val s = open(name, "cli", requests)
    val r = try body finally close(s)
    (r, s)
  }

  def span[T](name: String, layer: String)(body: => T): T = {
    val req = stack.headOption.map(_.request).getOrElse {
      requests += 1; requests
    }
    val s = open(name, layer, req)
    try body finally close(s)
  }

  private def open(name: String, layer: String, req: Int): Span = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
      req, name, layer, System.nanoTime())
    spans += s
    stack = s :: stack
    spark.sparkContext.setLocalProperty(Tracer.Prop, s.id.toString)
    s
  }

  private def close(s: Span): Unit = {
    s.end = System.nanoTime()
    stack = stack.tail
    spark.sparkContext.setLocalProperty(Tracer.Prop,
      stack.headOption.map(_.id.toString).orNull)
  }

  def current: Span = stack.head

  def children: Map[Int, Seq[Span]] = spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)
}

object Tracer {
  val Prop = "clibench.span"

  /** Duration minus the part of it its direct children cover. */
  def selfTime(s: Span, children: Seq[Span]): Long =
    s.dur - Stats.coverage(children.map(c => (c.start, c.end)), s.start, s.end)
}

/** Spark counters per span id (-1: jobs started outside any span). */
final class SpanListener extends SparkListener {
  private val counters = mutable.Map.empty[(Int, String), Long]
  private val jobSpans = mutable.Map.empty[Int, (Int, Long)]
  private val stageSpans = mutable.Map.empty[Int, Int]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val started = new AtomicLong()
  private val ended = new AtomicLong()
  private val lastEvent = new AtomicLong(System.nanoTime())
  val streamBatches = new AtomicLong()

  private def add(span: Int, k: String, v: Long): Unit =
    counters((span, k)) = counters.getOrElse((span, k), 0L) + v

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Prop))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sid = spanOf(e.properties)
    jobSpans(e.jobId) = (sid, e.time)
    e.stageIds.foreach(stageSpans(_) = sid)
    add(sid, "jobs", 1)
    started.incrementAndGet(); lastEvent.set(System.nanoTime())
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.remove(e.jobId).foreach { case (sid, t0) =>
      jobIntervals += ((sid, t0, e.time))
    }
    ended.incrementAndGet(); lastEvent.set(System.nanoTime())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val sid = stageSpans.getOrElse(info.stageId, -1)
    add(sid, "tasks", info.numTasks)
    Option(info.taskMetrics).foreach { m =>
      add(sid, "input_bytes", m.inputMetrics.bytesRead)
      add(sid, "output_bytes", m.outputMetrics.bytesWritten)
      add(sid, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(sid, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add(sid, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add(sid, "task_ms", m.executorRunTime)
    }
    lastEvent.set(System.nanoTime())
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      if (p.progress.numInputRows > 0) streamBatches.incrementAndGet()
      lastEvent.set(System.nanoTime())
    case _ =>
  }

  def get(span: Int, k: String): Long = synchronized(counters.getOrElse((span, k), 0L))

  /** (span, start ms, end ms) of every finished job. */
  def jobs: Seq[(Int, Long, Long)] = synchronized(jobIntervals.toSeq)

  /** Wait until every started job has ended and no event arrived for a
    * short quiet period, so the counters are complete. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 15000000000L
    while (System.nanoTime() < deadline &&
      (started.get != ended.get || System.nanoTime() - lastEvent.get < 300000000L))
      Thread.sleep(20)
  }
}
