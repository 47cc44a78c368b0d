package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed region around a public call into the program. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long)

/** Spark-side work attributed to one span: the span id travels as a Spark
  * local property, so every job a call submits (and every stage and task of
  * that job) is charged to the span that was open on the submitting thread.
  * Stream threads inherit the property that was set when the query started. */
final class Counts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
  var peakTaskMemBytes = 0L
}

/** In-memory span recorder plus the listener counts at the same boundaries.
  * Nothing is written until the run ends. When tracing is off every call is
  * a plain pass-through and no listener is attached. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  import Tracer.Prop
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val counts = new ConcurrentHashMap[Int, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private def countsOf(span: Int): Counts = counts.computeIfAbsent(span, _ => new Counts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      val c = countsOf(span)
      c.synchronized { c.jobs += 1; c.stages += e.stageIds.size }
      e.stageIds.foreach(s => stageSpan.put(s, span))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val c = countsOf(stageSpan.getOrDefault(e.stageId, -1))
      c.synchronized {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakTaskMemBytes = math.max(c.peakTaskMemBytes, m.peakExecutionMemory)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = if (on) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: org.apache.spark.sql.SparkSession): Unit = if (on) {
    settle()
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Times `body` as span `name`, a child of the innermost open span. A
    * stream's micro-batch thread may open spans while the main thread has
    * one open, so the span list is guarded and each span closes itself. */
  def span[A](name: String)(body: => A): A = {
    if (!on) return body
    val (s, parent) = synchronized {
      val parent = open.headOption
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1), System.nanoTime(), 0L)
      spans += s
      open = s :: open
      (s, parent)
    }
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      synchronized { open = open.filterNot(_ eq s) }
      sc.setLocalProperty(Prop, parent.map(_.id.toString).orNull)
    }
  }

  /** Waits until the listener bus has delivered every job it started. */
  def settle(): Unit = if (on) {
    val deadline = System.nanoTime() + 10_000_000_000L
    var last = -1L
    while (System.nanoTime() < deadline &&
      (jobsEnded.get() < jobsStarted.get() || last != jobsEnded.get())) {
      last = jobsEnded.get()
      Thread.sleep(100)
    }
  }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Counts charged to `span` itself (children are charged separately). */
  def countsFor(span: Span): Counts = Option(counts.get(span.id)).getOrElse(new Counts)

  /** Counts of `span` and every span below it. */
  def countsUnder(span: Span): Counts = {
    val out = new Counts
    val ids = descendants(span).map(_.id).toSet + span.id
    ids.foreach { i =>
      Option(counts.get(i)).foreach { c =>
        out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
        out.taskMs += c.taskMs; out.shuffleWriteBytes += c.shuffleWriteBytes
        out.spillBytes += c.spillBytes
        out.peakTaskMemBytes = math.max(out.peakTaskMemBytes, c.peakTaskMemBytes)
      }
    }
    out
  }

  def descendants(span: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == span.id).toSeq
    kids ++ kids.flatMap(descendants)
  }

  def durS(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Span duration minus the part of it its child spans cover. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var at = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, at); val hi = math.min(b, s.endNs)
      if (hi > lo) { covered += hi - lo; at = hi }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }
}

object Tracer {
  val Prop = "perfbench.span"
}
