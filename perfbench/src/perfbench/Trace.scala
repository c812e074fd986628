package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark's own counters for one span: jobs, stages and tasks it ran,
  * task CPU, GC and run time, and shuffle bytes. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var gcMs = 0L; var runMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L
}

/** Attributes Spark jobs to the span that was active on the client thread
  * when they were submitted: the recorder tags each job through the local
  * property [[SpanListener.Prop]], and stages and tasks inherit the tag
  * of their job. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private val bySpan = new ConcurrentHashMap[Integer, Counters]()

  private def counters(span: Integer): Counters = bySpan.computeIfAbsent(span, _ => new Counters)
  private def spanOf(p: java.util.Properties): Option[Integer] =
    Option(p).flatMap(x => Option(x.getProperty(SpanListener.Prop))).map(s => Integer.valueOf(s.toInt))

  override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties).foreach { s =>
    e.stageIds.foreach(id => stageSpan.put(id, s))
    val c = counters(s)
    c.synchronized(c.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach { s =>
      stageSpan.put(e.stageInfo.stageId, s)
      val c = counters(s)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) {
      val c = counters(s)
      c.synchronized {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.runMs += m.executorRunTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      }
    }
  }

  def of(span: Int): Option[Counters] = Option(bySpan.get(Integer.valueOf(span)))
}

object SpanListener {
  val Prop = "perfbench.span"
}

final case class Span(id: Int, name: String, parent: Int, request: Long, startNs: Long, var endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder around the benchmark's calls into the
  * program. Disabled, `apply` only runs the body. Spans are written out
  * once, at the end of the run. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  val listener: Option[SpanListener] =
    if (enabled) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None
  private var stack: List[Span] = Nil
  private var request = 0L

  /** Group the spans that follow under a new request id. */
  def newRequest(): Unit = request += 1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = Span(spans.length, name, parent, request, System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanListener.Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanListener.Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Span duration minus the time its children cover. Children of one
    * span run one after another on the single client thread. */
  def selfMs: Map[Int, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  def counters(s: Span): Counters = listener.flatMap(_.of(s.id)).getOrElse(new Counters)

  /** Spans of `name` in recording order. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Every span as one JSON document: name, start/end (ms from the first
    * span), parent, request id, self time and Spark counters. */
  def toJson: String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val self = selfMs
    spans.map { s =>
      val c = counters(s)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,""" +
        f""""self_ms":${self(s.id)}%.3f,"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        f""""task_cpu_ms":${c.cpuNs / 1e6}%.3f,"task_gc_ms":${c.gcMs},"task_run_ms":${c.runMs},""" +
        s""""shuffle_write_bytes":${c.shuffleWrite},"shuffle_read_bytes":${c.shuffleRead}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
