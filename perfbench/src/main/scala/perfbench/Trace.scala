package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans the benchmark records around its own calls into the engine.
  *
  * A span has a name (the layer, e.g. `entry.build`), a duration, and a
  * self time: its duration minus the part covered by spans opened inside
  * it. Totals are kept per name, in memory, and read out between passes.
  *
  * While a span is open its name is the value of the SparkContext local
  * property [[Ledger.SpanKey]] on the calling thread, so every Spark job
  * submitted inside it carries the span's name; [[SpanListener]] credits
  * the job's stages and tasks to that name. The engine's own job
  * descriptions and groups are never touched.
  *
  * With `on = false` a span is just its body: the untraced run pays one
  * branch per call.
  */
final class Ledger(var on: Boolean) {
  import Ledger.Totals

  private final class Frame(val name: String, val start: Long) {
    var childNs = 0L
  }
  /** Called with the innermost open span's name (null: none open). */
  var tag: String => Unit = _ => ()
  private val stack = mutable.Stack[Frame]()
  private val totals = mutable.LinkedHashMap[String, Totals]()

  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val f = new Frame(name, System.nanoTime())
    stack.push(f)
    tag(name)
    try body
    finally {
      val ns = System.nanoTime() - f.start
      stack.pop()
      tag(if (stack.isEmpty) null else stack.top.name)
      stack.headOption.foreach(_.childNs += ns)
      val t = totals.getOrElseUpdate(name, new Totals)
      t.ns += ns
      t.selfNs += ns - f.childNs
      t.count += 1
    }
  }

  /** Copy of the per-name totals since the last `reset`. */
  def snapshot(): Map[String, Totals] =
    totals.map { case (k, v) => k -> v.copy() }.toMap

  def reset(): Unit = totals.clear()
}

object Ledger {
  /** Local property naming the innermost open span. */
  val SpanKey = "perfbench.span"

  final class Totals(var ns: Long = 0L, var selfNs: Long = 0L,
                     var count: Long = 0L) {
    def copy(): Totals = new Totals(ns, selfNs, count)
    def seconds: Double = ns / 1e9
  }

  /** Make `l`'s spans tag the jobs they submit on `sc`. */
  def tagJobs(l: Ledger, sc: SparkContext): Unit =
    l.tag = name => sc.setLocalProperty(SpanKey, name)
}

/** Scheduler counts for one span name. */
final class Counts {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, taskWallMs = 0L
  var shuffleWrite, shuffleRead, spill, resultBytes = 0L
  var inputBytes, inputRows, outputBytes, outputRows = 0L

  def add(o: Counts): Counts = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    taskWallMs += o.taskWallMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill
    resultBytes += o.resultBytes
    inputBytes += o.inputBytes; inputRows += o.inputRows
    outputBytes += o.outputBytes; outputRows += o.outputRows
    this
  }
}

/** Credits jobs, stages and tasks to the span named by the job's
  * [[Ledger.SpanKey]] local property; a job without it is credited to
  * [[SpanListener.Unattributed]]. Events arrive on Spark's listener bus
  * thread, so readers flush the bus (`ListenerBridge.waitUntilEmpty`)
  * before they `drain`.
  */
final class SpanListener extends SparkListener {
  import SpanListener.Unattributed

  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val counts = new ConcurrentHashMap[String, Counts]()

  private def spanOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Ledger.SpanKey)))
      .getOrElse(Unattributed)

  private def of(span: String): Counts =
    counts.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    e.stageIds.foreach(stageSpan.put(_, span))
    of(span).synchronized(of(span).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val span = spanOf(e.properties)
    stageSpan.put(e.stageInfo.stageId, span)
    of(span).synchronized(of(span).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = of(Option(stageSpan.get(e.stageId)).getOrElse(Unattributed))
    c.synchronized {
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.taskWallMs += e.taskInfo.duration
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.resultBytes += m.resultSize
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRows += m.outputMetrics.recordsWritten
    }
  }

  /** Counts per span name since the last drain; clears them. */
  def drain(): Map[String, Counts] = {
    val out = counts.asScala.map { case (k, v) =>
      k -> v.synchronized(new Counts().add(v))
    }.toMap
    counts.clear()
    out
  }
}

object SpanListener {
  val Unattributed = "(unattributed)"
}
