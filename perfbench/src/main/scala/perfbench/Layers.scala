package perfbench

import scala.collection.mutable

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.SparkSession

/** Per-pass span totals and scheduler counts of a traced run, reduced to
  * the per-layer metrics. The metric names, units, modules and the
  * end-to-end metric each should move live in `layers.json`.
  *
  * Warm passes alternate traced and untraced; the untraced ones run with
  * the listener removed and spans off, and only serve the tracing
  * overhead ratio. Per-pass figures are reported as the median over the
  * traced warm passes.
  */
final class Layers(spark: SparkSession, ledger: Ledger,
                   listener: SpanListener, enabled: Boolean) {
  import Layers._

  private val sc = spark.sparkContext
  private val cores = sc.defaultParallelism
  private var listening = enabled
  private var memoBytes, memoRdds = 0L
  private val recs = mutable.ArrayBuffer[Pass]()

  private def flush(): Unit = ListenerBridge.waitUntilEmpty(sc)

  private def listen(on: Boolean): Unit = {
    flush()
    if (on && !listening) sc.addSparkListener(listener)
    if (!on && listening) sc.removeSparkListener(listener)
    listening = on
    listener.drain()
    ledger.reset()
  }

  def beginPass(traced: Boolean): Unit = if (enabled) {
    ledger.on = traced
    listen(traced)
    memoBytes = 0L; memoRdds = 0L
  }

  /** Storage still held once an op has returned: blocks of the memo
    * barriers (`localCheckpoint`) and of any `persist` not released. */
  def afterOp(): Unit = if (ledger.on) {
    val held = sc.getRDDStorageInfo
    memoBytes = math.max(memoBytes, held.map(i => i.memSize + i.diskSize).sum)
    memoRdds = math.max(memoRdds, held.length.toLong)
  }

  def endPass(wall: Double): Unit = if (enabled) {
    flush()
    recs += Pass(ledger.on, wall, ledger.snapshot(), listener.drain(),
      memoBytes, memoRdds)
  }

  /** Run `body` traced on its own; its spans and counts. */
  def measure[T](body: => T): (T, Map[String, Ledger.Totals], Map[String, Counts]) = {
    ledger.on = true
    listen(true)
    val t = body
    flush()
    (t, ledger.snapshot(), listener.drain())
  }

  def report(setup: Map[String, Ledger.Totals], eltWorkload: Boolean,
             probe: (Double, Map[String, Ledger.Totals], Map[String, Counts]))
      : Map[String, Double] = {
    val cold = recs.head
    val warm = recs.tail.filter(_.traced).toSeq
    val plain = recs.tail.filterNot(_.traced).toSeq
    val (filesOut, pSpans, pCounts) = probe
    def m(f: Pass => Double): Double = median(warm.map(f))
    def ps(name: String): Double = secs(pSpans, name)
    def pc(name: String): Counts = pCounts.getOrElse(name, new Counts)
    // the query layers of elt_load are the layer pass's, since its ops
    // are whole Pipeline.run calls
    def layer(name: String): Double =
      if (eltWorkload) ps(name) else m(p => secs(p.spans, name))
    val eagerJobs =
      if (eltWorkload)
        pc("entry.build").jobs + pc("readers.read").jobs + pc("align.call").jobs
      else m(p => p.counts.get("entry.build").map(_.jobs).getOrElse(0L).toDouble)
    val coldMinusWarm =
      if (eltWorkload) secs(cold.spans, "op") - m(p => secs(p.spans, "op"))
      else secs(cold.spans, "entry.build") - m(p => secs(p.spans, "entry.build"))
    val sinkOut = pc("sink.write")
    Map(
      "session.build_s" -> secs(setup, "session.build"),
      "session.warmup_s" -> secs(setup, "session.warmup"),
      "entry.build_s" -> layer("entry.build"),
      "entry.eager_jobs" -> eagerJobs,
      "entry.cold_minus_warm_s" -> coldMinusWarm,
      "plan.optimize_s" -> layer("plan.optimize"),
      "exec.run_s" -> layer("exec.run"),
      "spark.jobs" -> m(_.total.jobs.toDouble),
      "spark.stages" -> m(_.total.stages.toDouble),
      "spark.tasks" -> m(_.total.tasks.toDouble),
      "spark.task_overhead_s" -> m(p => (p.total.taskWallMs - p.total.runMs) / 1e3),
      "spark.busy_ratio" -> m(p => p.total.runMs / 1e3 / (p.wall * cores)),
      "spark.executor_run_s" -> m(_.total.runMs / 1e3),
      "spark.executor_cpu_s" -> m(_.total.cpuNs / 1e9),
      "spark.gc_s" -> m(_.total.gcMs / 1e3),
      "shuffle.write_bytes" -> m(_.total.shuffleWrite.toDouble),
      "shuffle.read_bytes" -> m(_.total.shuffleRead.toDouble),
      "spill.bytes" -> m(_.total.spill.toDouble),
      "driver.result_bytes" -> m(_.total.resultBytes.toDouble),
      "memo.bytes_left" -> m(_.memoBytes.toDouble),
      "memo.rdds_left" -> m(_.memoRdds.toDouble),
      "readers.read_s" -> ps("readers.read"),
      "readers.scan_s" -> ps("readers.scan"),
      "readers.input_bytes" -> pc("readers.scan").inputBytes.toDouble,
      "readers.input_rows" -> pc("readers.scan").inputRows.toDouble,
      "align.call_s" -> ps("align.call"),
      "align.self_s" -> (ps("align.noop") - ps("readers.scan")),
      "sink.write_s" -> ps("sink.write"),
      "sink.self_s" -> (ps("sink.write") - ps("align.noop")),
      "sink.bytes_out" -> sinkOut.outputBytes.toDouble,
      "sink.bytes_per_row" ->
        sinkOut.outputBytes.toDouble / math.max(1L, sinkOut.outputRows),
      "sink.files_out" -> filesOut,
      "pipeline.runjob_s" -> ps("pipeline.runjob"),
      "pipeline.overhead_s" -> (ps("pipeline.runjob") - ps("sink.write")),
      "trace.overhead_ratio" -> median(warm.map(_.wall)) / median(plain.map(_.wall)),
      "trace.unattributed_jobs" -> m(p =>
        p.counts.get(SpanListener.Unattributed).map(_.jobs).getOrElse(0L).toDouble),
    )
  }
}

object Layers {
  final case class Pass(traced: Boolean, wall: Double,
                        spans: Map[String, Ledger.Totals],
                        counts: Map[String, Counts],
                        memoBytes: Long, memoRdds: Long) {
    lazy val total: Counts = counts.values.foldLeft(new Counts)(_ add _)
  }

  def secs(spans: Map[String, Ledger.Totals], name: String): Double =
    spans.get(name).map(_.seconds).getOrElse(0.0)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
