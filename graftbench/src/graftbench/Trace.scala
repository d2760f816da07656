package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. `op` is the operation (day, table op or
  * micro-batch) the span belongs to; the op's own root span has parent 0.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long)

/** What the Spark jobs tagged with one span did (filled by [[JobTagger]]). */
final class SpanWork {
  var jobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.Map[Int, (Long, Long)]() // jobId -> (startMs, endMs)
}

/** Spans recorded from the benchmark side, around the calls into each
  * layer's public functions. Only operations started with `op(traced =
  * true)` record spans; everything else runs the body untouched. Spans
  * stay in memory until the run ends.
  *
  * Each span's id goes into the Spark local property [[Trace.Key]] for the
  * span's duration, so every job the call submits (from this thread, or
  * from an engine pool that carries the submitter's properties) is
  * attributed to it by [[JobTagger]].
  */
final class Trace(sc: SparkContext) {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val done = mutable.ArrayBuffer[Span]()
  private val current = new ThreadLocal[(Long, Long)] // (span id, op id)
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L

  /** A `System.nanoTime()` reading as epoch milliseconds (Spark's job clock). */
  def epochMs(ns: Long): Long = ns / 1000000L + offsetMs

  def spans: Seq[Span] = synchronized(done.toList)

  def op[T](opId: Long, traced: Boolean)(body: => T): T =
    if (!traced) body else enter("bench.op", 0L, opId)(body)

  def span[T](name: String)(body: => T): T = current.get match {
    case null => body
    case (parent, opId) => enter(name, parent, opId)(body)
  }

  private def enter[T](name: String, parent: Long, opId: Long)(body: => T): T = {
    val id = ids.incrementAndGet()
    val saved = current.get
    val savedProp = sc.getLocalProperty(Trace.Key)
    current.set((id, opId))
    sc.setLocalProperty(Trace.Key, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(Trace.Key, savedProp)
      if (saved == null) current.remove() else current.set(saved)
      synchronized(done += Span(id, parent, opId, name, t0, t1))
    }
  }
}

object Trace {
  val Key = "graftbench.span"

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val xs = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    xs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover.
    */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> ((s.endNs - s.startNs) - covered(ch, s.startNs, s.endNs))
    }.toMap
  }
}

/** Attributes Spark jobs, tasks, CPU, GC, shuffle and spill to the span
  * whose id the submitting thread carried in [[Trace.Key]].
  */
final class JobTagger extends SparkListener {
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val work = new ConcurrentHashMap[Long, SpanWork]()

  private def of(span: Long): SpanWork = work.computeIfAbsent(span, _ => new SpanWork)

  def get(span: Long): Option[SpanWork] = Option(work.get(span))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Key))).foreach { s =>
      val span = s.toLong
      jobSpan.put(e.jobId, span)
      e.stageIds.foreach(st => stageSpan.put(st, span))
      val w = of(span)
      w.synchronized { w.jobs += 1; w.jobIntervals(e.jobId) = (e.time, e.time) }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { span =>
      val w = of(span)
      w.synchronized {
        w.jobIntervals.get(e.jobId).foreach { case (a, _) => w.jobIntervals(e.jobId) = (a, e.time) }
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val m = e.taskMetrics
      val w = of(span)
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
}

/** Micro-batch progress of the streaming engine, kept per batch id. */
final class ProgressLog extends StreamingQueryListener {
  val batches = new ConcurrentHashMap[Long, (Long, Map[String, Long])]() // id -> (rows, durationMs)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    if (p.numInputRows > 0) batches.put(p.batchId, (p.numInputRows, d))
  }
}
