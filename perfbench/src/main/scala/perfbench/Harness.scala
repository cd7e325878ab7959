package perfbench

import org.apache.spark.sql.SparkSession

/** Metric names and units, in the order they are reported. The traced
  * run reports every per-layer metric on every workload; a layer a
  * workload does not exercise reads 0. */
object Catalog {
  val NamePattern = "[A-Za-z0-9_.-]+"

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pipeline_s" -> "s", "op_p50_s" -> "s")

  val perLayer: Seq[(String, String)] = Seq(
    "io.scan_s" -> "s", "io.rows_read" -> "count", "io.bytes_read" -> "bytes",
    "io.file_scans" -> "count",
    "transforms.jitter_s" -> "s", "transforms.calibrate_s" -> "s", "functions.dfield_s" -> "s",
    "binning.aggregate_s" -> "s", "binning.partial_task_s" -> "s", "binning.merge_task_s" -> "s",
    "binning.shuffle_write_bytes" -> "bytes", "binning.shuffle_records" -> "count",
    "binning.spill_bytes" -> "bytes", "binning.collect_s" -> "s",
    "binning.cells_nonzero" -> "count", "binning.save_s" -> "s", "binning.save_bytes" -> "bytes",
    "binning.events_per_s" -> "1/s", "binning.parallel_eff" -> "ratio",
    "analysis.shirley_s" -> "s", "analysis.peak_detect_s" -> "s", "analysis.fft_filter_s" -> "s",
    "fit.fit_traces_s" -> "s", "fit.iterations" -> "count",
    "graft.build_s" -> "s", "sql.analysis_s" -> "s", "sql.optimization_s" -> "s",
    "sql.planning_s" -> "s", "sql.codegen_s" -> "s", "sql.exec_s" -> "s",
    "sql.jobs" -> "count", "sql.stages" -> "count", "sql.tasks" -> "count",
    "sql.sched_delay_s" -> "s", "sql.shuffle_bytes" -> "bytes",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_ratio" -> "ratio")
}

/** State shared by a workload's run: the session, the tracer and probe
  * of a traced run, and the tally of attempted and failed operations. */
final class Run(val spark: SparkSession, val work: String, val seed: Long,
                val seconds: Double, val traced: Boolean) {
  val tracer = new Tracer(false)
  lazy val probe = new SparkProbe(spark)

  /** Spans and Spark listeners on for one repetition of a traced run. */
  def traceOn(): Unit = {
    probe.attach()
    tracer.enabled = true
    tracer.onEnter = name => probe.tag(name)
  }

  def traceOff(): Unit = {
    tracer.enabled = false
    tracer.onEnter = _ => ()
    probe.tag(null)
    probe.detach()
  }

  var attempted = 0L
  var failed = 0L

  /** One operation attempted: `body` returns whether its output checked
    * out; an exception counts as a failure as well. */
  def attempt(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok = try body catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $what threw: $e")
        false
    }
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] $what: output check failed")
    }
    ok
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Wall time of `body`, s. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `body` until `window` seconds have passed, at least `min` times. */
  def repeatFor[T](window: Double, min: Int)(body: Int => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    while (out.length < min || (System.nanoTime() - t0) / 1e9 < window) out += body(out.length)
    out.toSeq
  }
}

/** What a workload hands back to [[Main]]. */
final case class Outcome(endToEnd: Map[String, Double], perLayer: Map[String, Double])
