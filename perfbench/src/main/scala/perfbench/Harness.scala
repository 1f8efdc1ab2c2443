package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.engine._

/** One benchmark JVM: build the session, run the workload's ops in
  * passes from one client thread (closed loop: each op starts when the
  * previous one ends), and write the raw measurements as JSON for
  * `run.py`, which checks outputs and reduces them to metrics.
  *
  * Usage:
  * {{{
  * Harness --kind queries|elt --ops a,b,c|- --sf-dir D --elt-dir E
  *         --kernel-dir K --run-dir R --seed N --seconds S --trace 0|1
  *         --out F
  *         [--setup-only]
  * }}}
  *
  * Pass 0 is the cold pass. Then [[SettlePasses]] untimed passes let the
  * JIT settle (for query workloads the first dumps each result for the
  * oracle check). Warm passes follow until `--seconds` of them have run,
  * at least [[MinWarmPasses]]; `warm_pass_s` is taken from the first
  * [[MinWarmPasses]] of them, so its estimator is the same however fast
  * the passes are. Every pass runs the ops in one order, permuted by the
  * seed: the engine's generated-code cache holds fewer classes than the
  * ops make together, so an op's time depends on the op run before it,
  * and a fresh order per pass would vary the work from pass to pass.
  * With `--trace 1`, warm passes alternate
  * between traced and untraced (their ratio is the tracing overhead), and
  * the run ends with the layer pass over the ELT tables and the kernel
  * pass; see [[Layers]].
  */
object Harness {
  val SettlePasses = 2
  val MinWarmPasses = 5
  /** Executor threads: half the processors. Where the processors are
    * shared with other tenants, as on the 4-vCPU VM these figures
    * come from, a session with one thread per processor measured how
    * many of them the host granted at the time: warm passes of the same
    * build took 2.7 s in one run and 4.8 s in the next. With half of
    * them, the driver thread, the JIT and the collector keep headroom,
    * and the passes moved far less. */
  val Cores: Int = math.max(1, Runtime.getRuntime.availableProcessors / 2)

  final case class Args(kind: String, ops: Seq[String], sfDir: String,
                        eltDir: String, kernelDir: String, runDir: String,
                        seed: Long, seconds: Double, trace: Boolean,
                        out: String, setupOnly: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("kind"), need("ops").split(",").filter(_ != "-").toSeq,
      need("sf-dir"), need("elt-dir"), need("kernel-dir"), need("run-dir"),
      need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("out"), argv.contains("--setup-only"))
  }

  /** What one op execution returned. */
  final case class OpResult(name: String, seconds: Double, error: String,
                            rows: Option[Long], nulls: Map[String, Long])

  final case class Op(name: String, run: () => (Option[Long], Map[String, Long]))

  final case class Pass(traced: Boolean, wall: Double, ops: Seq[OpResult])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val ledger = new Ledger(a.trace)
    val spark = ledger.span("session.build")(GraftSession.build(
      "perfbench", cpus = Cores.toString))
    val sc = spark.sparkContext
    Ledger.tagJobs(ledger, sc)
    val listener = new SpanListener
    if (a.trace) sc.addSparkListener(listener)
    // Warm the session the way its users do: register the tables as views,
    // which SQL queries need and which fills the engine's resolved-plan
    // cache. No op runs: the first-use costs of an op land in the cold
    // pass, where a one-shot user pays them.
    ledger.span("session.warmup")(Readers.registerAll(spark, a.sfDir))
    val json = new Json
    json.num("setup_s", (System.currentTimeMillis() - jvmStart) / 1e3)
    if (a.setupOnly) {
      // no job ran; run.py deletes the run dir, so skip the clean stop
      Files.writeString(Paths.get(a.out), json.render)
      Runtime.getRuntime.halt(0)
    }
    val setupSpans = ledger.snapshot()
    ledger.reset()
    val ops = a.kind match {
      case "queries" => a.ops.map(queryOp(spark, ledger, a.sfDir, _))
      case "elt" => Elt.ops(spark, ledger, a.eltDir, a.runDir)
      case other => throw new IllegalArgumentException(s"kind $other")
    }
    val layers = new Layers(spark, ledger, listener, a.trace)
    val order = new scala.util.Random(a.seed).shuffle(ops)
    def pass(traced: Boolean): Pass = {
      layers.beginPass(traced)
      val t0 = System.nanoTime()
      val res = order.map { op =>
        val t = System.nanoTime()
        val (err, rows, nulls) =
          try { val (r, n) = ledger.span("op")(op.run()); ("", r, n) }
          catch { case e: Throwable =>
            (String.valueOf(e.getMessage), None, Map.empty[String, Long])
          }
        layers.afterOp()
        OpResult(op.name, (System.nanoTime() - t) / 1e9, err, rows, nulls)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      layers.endPass(wall)
      Pass(traced, wall, res)
    }
    val passes = mutable.ArrayBuffer(pass(traced = a.trace))
    // settling, untimed; query results are dumped for the oracle in the
    // first settling pass
    val checkErrors =
      if (a.kind == "queries")
        checkDump(spark, order.map(_.name), a.sfDir, s"${a.runDir}/check")
      else Seq.empty
    var settled = if (a.kind == "queries") 1 else 0
    while (settled < SettlePasses) {
      layers.beginPass(traced = false)
      order.foreach(op => Try(op.run()))
      settled += 1
    }
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    while (passes.size <= MinWarmPasses || System.nanoTime() < deadline)
      passes += pass(traced = a.trace && passes.size % 2 == 1)
    json.arr("passes", passes.map { p =>
      val j = new Json
      j.num("wall_s", p.wall)
      j.bool("traced", p.traced)
      j.arr("ops", p.ops.map { r =>
        val o = new Json
        o.str("name", r.name); o.num("s", r.seconds); o.str("error", r.error)
        r.rows.foreach(o.num("rows", _))
        o.obj("nulls", r.nulls.toSeq.sortBy(_._1).map { case (k, v) => k -> (v: Double) })
        o
      })
      j
    })
    json.num("warm_passes", MinWarmPasses)
    json.arr("check_errors", checkErrors.map(Json.quote))
    if (a.trace) {
      val probe = layers.measure(Elt.probe(spark, ledger, a.eltDir, a.runDir))
      val (kernels, mismatches) = Kernels.run(spark, a.kernelDir)
      json.obj("layers", (layers.report(setupSpans, a.kind == "elt", probe) ++
        kernels).toSeq.sortBy(_._1))
      json.arr("kernel_mismatches", mismatches.map(Json.quote))
    }
    json.num("rss_peak_mb", Layers.rssPeakMb())
    spark.stop()
    Files.writeString(Paths.get(a.out), json.render)
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** A catalog query, materialized through `noop` as graft.Bench does. */
  def queryOp(spark: SparkSession, ledger: Ledger, sfDir: String,
              name: String): Op = {
    val fn = SparkEntry.queries(name)
    Op(name, () => {
      val df = ledger.span("entry.build")(fn(spark, sfDir))
      if (ledger.on) ledger.span("plan.optimize")(df.queryExecution.executedPlan)
      ledger.span("exec.run")(noop(df))
      (None, Map.empty)
    })
  }

  /** Dump each query's result for the DuckDB oracle, the way graft.Verify
    * does (one parquet file per query, top-level timestamps as NTZ), plus
    * `oracle_sql.json` for these queries. Returns the failures. */
  def checkDump(spark: SparkSession, names: Seq[String], sfDir: String,
                dir: String): Seq[String] = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val errors = names.flatMap { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.select(df.schema.fields.toIndexedSeq.map { f =>
          val c = col("`" + f.name.replace("`", "``") + "`")
          if (f.dataType == TimestampType) c.cast(TimestampNTZType).as(f.name) else c
        }: _*).coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
        None
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    val oracles = new Json
    names.filter(SparkEntry.oracleSql.contains)
      .foreach(n => oracles.str(n, SparkEntry.oracleSql(n)))
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), oracles.render)
    errors
  }
}

/** Minimal JSON writer for the raw-measurement file that run.py reads. */
final class Json {
  private val fields = mutable.ArrayBuffer[String]()
  private def put(k: String, v: String): Unit = fields += s"${Json.quote(k)}:$v"
  def num(k: String, v: Double): Unit =
    put(k, if (v.isNaN || v.isInfinite) "null" else v.toString)
  def str(k: String, v: String): Unit = put(k, Json.quote(v))
  def bool(k: String, v: Boolean): Unit = put(k, v.toString)
  def arr(k: String, vs: collection.Seq[Any]): Unit = put(k, vs.map {
    case j: Json => j.render
    case s: String => s
    case other => other.toString
  }.mkString("[", ",", "]"))
  def obj(k: String, kvs: Seq[(String, Double)]): Unit = {
    val j = new Json
    kvs.foreach { case (kk, v) => j.num(kk, v) }
    put(k, j.render)
  }
  def render: String = fields.mkString("{", ",", "}")
}

object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
