package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** One timed interval around a call into a layer. `parent` is 0 for an
  * op's root span; `op` groups the spans of one operation. Times are
  * `System.nanoTime`. */
final case class Span(id: Int, parent: Int, name: String, op: Long, start: Long, end: Long)

/** One Spark job as the listener saw it: wall-clock millis, the span
  * that was current on the submitting thread, and its task count. */
final case class JobRec(jobId: Int, spanProp: Int, startMs: Long, endMs: Long, tasks: Int)

/** Spans kept in memory, written out when the run ends. Disabled (the
  * default), a span only runs its body: the end-to-end run pays nothing
  * for it and no listener is registered. */
final class Tracer(sc: SparkContext) {
  private val SpanProp = "perfbench.span"
  private val nextId = new AtomicInteger(1)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]()
  @volatile private var op = 0L
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  private val listener = new JobListener
  @volatile var enabled = false

  /** Register the job listener and start recording spans. */
  def enable(): Unit = { sc.addSparkListener(listener); enabled = true }

  /** Stop recording spans; jobs already submitted are still accounted. */
  def disable(): Unit = enabled = false

  def beginOp(n: Long): Unit = op = n

  /** The span open on this thread, to hand to pool threads. */
  def currentSpan: Option[Span] = Option(current.get())

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get()
      val s = Span(nextId.getAndIncrement(), Option(parent).map(_.id).getOrElse(0), name, op,
        System.nanoTime(), 0L)
      current.set(s)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        done.add(s.copy(end = System.nanoTime()))
        current.set(parent)
        sc.setLocalProperty(SpanProp, Option(parent).map(_.id.toString).orNull)
      }
    }

  /** Run `body` on a pool thread as a child of `parent`. */
  def under[T](parent: Option[Span])(body: => T): T =
    if (!enabled) body
    else {
      val saved = current.get()
      parent.foreach { p => current.set(p); sc.setLocalProperty(SpanProp, p.id.toString) }
      try body
      finally {
        current.set(saved)
        sc.setLocalProperty(SpanProp, Option(saved).map(_.id.toString).orNull)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** The spans and attributed jobs recorded so far; recording starts
    * afresh. */
  def take(): (Seq[Span], Seq[(JobRec, Int)]) = {
    val js = jobs
    val ss = spans
    done.clear()
    listener.clear()
    (ss, js)
  }

  /** Jobs seen so far, each attributed to a span id (0 = none): the
    * innermost span holding the job's start among the span current on
    * the submitting thread and its descendants (Spark's own threads
    * carry the span of the op that started them), or, when the
    * submitting thread's span does not hold the start (the program's
    * own worker threads), among all spans. */
  def jobs: Seq[(JobRec, Int)] = {
    listener.awaitQuiet()
    val all = spans
    val byId = all.map(s => s.id -> s).toMap
    def holds(s: Span, ms: Long): Boolean = toMs(s.start) - 1 <= ms && ms <= toMs(s.end) + 1
    def within(s: Span, anc: Int): Boolean =
      s.id == anc || byId.get(s.parent).exists(within(_, anc))
    listener.records.map { j =>
      val holding = all.filter(holds(_, j.startMs))
      val scoped = byId.get(j.spanProp).filter(holds(_, j.startMs))
        .map(p => holding.filter(within(_, p.id))).getOrElse(holding)
      j -> scoped.sortBy(s => s.start - s.end).headOption.map(_.id).getOrElse(0)
    }
  }

  /** A span time on the listener's wall clock, in millis. */
  def toMs(nanos: Long): Double = wall0 + (nanos - nano0) / 1e6

  private final class JobListener extends SparkListener {
    private val started = mutable.Map.empty[Int, (Int, Long, Seq[Int])]
    private val stageTasks = mutable.Map.empty[Int, Int].withDefaultValue(0)
    private val out = mutable.ArrayBuffer.empty[JobRec]
    @volatile private var lastEvent = System.nanoTime()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(0)
      started(e.jobId) = (prop, e.time, e.stageIds)
      lastEvent = System.nanoTime()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageTasks(e.stageId) += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (prop, t0, stages) =>
        out += JobRec(e.jobId, prop, t0, e.time, stages.map(stageTasks).sum)
      }
      lastEvent = System.nanoTime()
    }
    def records: Seq[JobRec] = synchronized(out.toList)
    def clear(): Unit = synchronized(out.clear())

    /** The listener bus delivers events asynchronously: wait until
      * every started job has ended and the bus has been quiet a while. */
    def awaitQuiet(): Unit = {
      val deadline = System.nanoTime() + 10000000000L
      while (System.nanoTime() < deadline &&
        (synchronized(started.nonEmpty) || System.nanoTime() - lastEvent < 300000000L))
        Thread.sleep(50)
    }
  }
}

/** Interval arithmetic over spans and jobs. */
object Intervals {
  /** Total length of the union of `xs`, each clipped to [lo, hi]. */
  def covered(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus what its children cover. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start.toDouble, c.end.toDouble))
      s.id -> ((s.end - s.start) - covered(ch, s.start.toDouble, s.end.toDouble)) / 1e9
    }.toMap
  }
}
