package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.engine._

/** The elt_load workload: the generated sources and the two pipeline
  * configs (`pgcopy.yaml`, `parquet.yaml`) written by `gen_elt.py`. Each
  * op is one table, loaded by `Pipeline.run` at parallelism 1. Sinks land
  * under `<run-dir>/out`, so runs never share output.
  */
object Elt {

  def configs(eltDir: String, runDir: String): Seq[EngineConfig] =
    Seq("pgcopy", "parquet").map { sink =>
      val cfg = EngineConfig.fromYaml(
        Files.readString(Paths.get(s"$eltDir/$sink.yaml")))
      cfg.copy(sink = cfg.sink.copy(path = Some(s"$runDir/out")))
    }

  def ops(spark: SparkSession, ledger: Ledger, eltDir: String,
          runDir: String): Seq[Harness.Op] =
    configs(eltDir, runDir).flatMap { cfg =>
      cfg.jobs.map { job =>
        Harness.Op(job.target, () => {
          val r = ledger.span("pipeline.run")(
            Pipeline.run(spark, cfg.copy(jobs = Seq(job)), parallelism = 1).head)
          r.error.foreach(e => throw e)
          (r.rows, r.nullCounts)
        })
      }
    }.sortBy(_.name)

  /** The layer pass: every table once, split at the engine's layer
    * boundaries. Each boundary is timed on its own, so the sink and the
    * pipeline get self times by difference:
    *
    *   - `readers.read`: `Readers.read` (schema inference jobs included)
    *   - `readers.scan`: a `noop` write of the read frame
    *   - `align.call`: `SchemaAlign.align`; `align.noop`: a `noop` write
    *     of the aligned frame
    *   - `plan.optimize`: forcing the aligned frame's executed plan
    *   - `sink.write` (inside `exec.run`): `Sink.write` of that frame
    *   - `pipeline.runjob`: `Pipeline.runJob`, which reads, aligns,
    *     observes and writes the same table again
    *
    * `entry.build` spans the read and the align. Returns the number of
    * part files the sinks wrote.
    */
  def probe(spark: SparkSession, ledger: Ledger, eltDir: String,
            runDir: String): Double = {
    val out = s"$runDir/probe"
    val cfgs = configs(eltDir, runDir)
      .map(c => c.copy(sink = c.sink.copy(path = Some(out))))
    for (cfg <- cfgs; job <- cfg.jobs) {
      val schema = job.targetSchema.get
      val (src, aligned) = ledger.span("entry.build") {
        val src = ledger.span("readers.read")(Readers.read(spark, job))
        (src, ledger.span("align.call")(SchemaAlign.align(src, schema)))
      }
      ledger.span("readers.scan")(Harness.noop(src))
      ledger.span("align.noop")(Harness.noop(aligned))
      ledger.span("plan.optimize")(aligned.queryExecution.executedPlan)
      ledger.span("exec.run")(
        ledger.span("sink.write")(Sink.write(aligned, job.target, cfg.sink)))
      ledger.span("pipeline.runjob")(Pipeline.runJob(spark, job, cfg.sink))
    }
    val files = Files.walk(Paths.get(out))
    try files.filter(_.getFileName.toString.startsWith("part-")).count().toDouble
    finally files.close()
  }
}
