package perfbench

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.chaining._

import graft.EventPipeline
import graft.analysis.{Analysis, Detect, FftFilter}
import graft.binning.{BinAxis, BinnedGrid}
import graft.fit.Fit
import graft.functions.DfieldLookup
import graft.ops.Scale
import graft.warp.Warp

/** One repetition of an event workload. `gridS` runs from the read to the
  * dense grid on the driver, `pipelineS` to the workload's end result. */
final case class Rep(gridS: Double, pipelineS: Double, grid: BinnedGrid, result: Double)

/** The two event workloads share their inputs and their protocol; they
  * differ in what runs between the read and the grid, and after it. */
abstract class EventWorkload(val run: Run) {
  def spark: SparkSession = run.spark
  val eventsPath = s"${run.work}/events"
  def axes: Seq[BinAxis]

  /** Read, range filter and the workload's transforms, as a lazy plan. */
  def frame(): EventPipeline

  /** Everything after the grid: saving it (W1) or analysing it (W2).
    * Returns a checksum of the result. */
  def finish(grid: BinnedGrid): Double

  /** Untimed checks on the first grid, beyond the shared ones. */
  def checkFirst(first: Rep): Unit = ()

  /** Differential probes for the per-layer transform costs (traced run),
    * added to the span figures of the same name. */
  def probes(): Map[String, Double]

  /** Extra per-layer figures after the traced window (traced run). */
  def extras(untracedGridS: Double): Map[String, Double] = Map.empty

  /** Span metrics of one traced repetition. */
  def repLayers(totals: Map[String, Double]): Map[String, Double]

  def read(): EventPipeline = run.span("EventPipeline.read")(EventPipeline.read(spark, eventsPath))

  def rangeFilter(p: EventPipeline): EventPipeline = run.span("EventPipeline.applyFilter") {
    p.applyFilter("X", Gen.XRange._1, Gen.XRange._2)
      .applyFilter("Y", Gen.YRange._1, Gen.YRange._2)
      .applyFilter("t", Gen.TRange._1, Gen.TRange._2)
  }

  def rep(): Rep = {
    val t0 = System.nanoTime()
    val p = run.span("graft.build")(frame())
    val grid = run.span("EventPipeline.distributedBinning")(p.distributedBinning(axes))
    val t1 = System.nanoTime()
    val result = finish(grid)
    val t2 = System.nanoTime()
    Rep((t1 - t0) / 1e9, (t2 - t0) / 1e9, grid, result)
  }

  /** Events in the grid's ranges on the workload's own frame, counted
    * with a plain filter: no library binning code. */
  def inRangeCount(): Long = {
    val in = axes.map(a => col(a.name) >= a.lo && col(a.name) < a.hi).reduce(_ && _)
    frame().df.filter(in).count()
  }

  /** Time of pushing `df` through the no-op sink, median of three. */
  def noopS(df: => DataFrame): Double =
    Stats.median((1 to 3).map(_ => run.timed(df.write.format("noop").mode("overwrite").save())._2))

  def execute(sessionS: Double): Outcome = {
    val genS = (1 to 3).map(_ => run.timed(Gen.writeEvents(spark, Pipelines.Events, run.seed, eventsPath))._2)
    val (props, propsS) = run.timed(Gen.properties(spark, eventsPath))
    System.err.println(s"[perfbench] generator properties $props")
    run.attempt("generator properties")(props.ok(Pipelines.Events))
    // warm-up: at least two repetitions and 10 s; the first still compiles
    // most of the code, and the driver-side analysis needs a few to settle
    val (first, warmS) = run.timed(run.repeatFor(Pipelines.WarmUpS, 2)(_ => rep()).head)
    run.attempt("grid total equals an independent in-range count")(first.grid.totalCount == inRangeCount())
    checkFirst(first)
    val setupS = sessionS + Stats.median(genS) + propsS + warmS
    System.err.println(f"[perfbench] setup: session $sessionS%.2f s, inputs ${genS.mkString(" ")} s, " +
      f"properties $propsS%.2f s, warm-up $warmS%.2f s")

    /** A measured repetition, checked against the first; None when it
      * threw. The caller collects the heap first, so no repetition pays
      * for another's garbage. */
    def measured(): Option[Rep] = {
      var r: Option[Rep] = None
      run.attempt("repetition, its grid and result bit-identical to the first") {
        r = Some(rep())
        java.util.Arrays.equals(r.get.grid.data, first.grid.data) && r.get.result == first.result
      }
      r
    }
    if (!run.traced) {
      val reps = run.repeatFor(run.seconds, 3) { _ => System.gc(); measured() }.flatten
      System.err.println(s"[perfbench] repetitions ${reps.map(r => f"${r.gridS}%.2f/${r.pipelineS}%.2f").mkString(" ")} s")
      return Outcome(Map(
        "setup_s" -> setupS,
        "pipeline_s" -> Stats.median(reps.map(_.pipelineS)),
        "op_p50_s" -> Stats.median(reps.map(_.gridS))), Map.empty)
    }

    // Traced: untraced and traced repetitions alternate, so the JVM's
    // drift (JIT, heap growth) weighs on both sides of the overhead alike.
    val probe = run.probe
    val reps = run.repeatFor(run.seconds, 4) { i =>
      System.gc()
      if (i % 2 == 0) (measured(), Map.empty[String, Double])
      else {
        run.tracer.rep = i / 2
        run.traceOn()
        val spansBefore = run.tracer.all.length
        val (cg0, gc0, jit0) = (SparkProbe.codegenS, Jvm.gcS, Jvm.jitS)
        Jvm.resetPeak()
        val r = try measured() finally run.traceOff()
        val (stages, execs, jobs) = probe.take()
        val totals = Span.totals(run.tracer.all.drop(spansBefore)).withDefaultValue(0.0)
        val binning = Layers.binning(stages, "EventPipeline.distributedBinning")
        val own = repLayers(totals)
        (r, r.fold(Map.empty[String, Double]) { r =>
          Layers.sql(stages, execs, jobs, SparkProbe.codegenS - cg0) ++ binning ++ own ++ Map(
            // building the plan; the deformation field built meanwhile is the dfield layer's
            "graft.build_s" -> (totals("graft.build") - own.getOrElse("functions.dfield_s", 0.0)),
            "binning.collect_s" -> (totals("EventPipeline.distributedBinning") - binning("binning.aggregate_s")),
            "binning.cells_nonzero" -> r.grid.data.count(_ != 0).toDouble,
            "binning.events_per_s" -> Pipelines.Events / r.gridS,
            "io.bytes_read" -> Layers.dirBytes(eventsPath).toDouble,
            "jvm.gc_s" -> (Jvm.gcS - gc0), "jvm.jit_s" -> (Jvm.jitS - jit0),
            "jvm.heap_peak_mb" -> Jvm.heapPeakMb)
        })
      }
    }
    val (plain, traced) = reps.zipWithIndex.partition(_._2 % 2 == 0) match {
      case (p, t) => (p.flatMap(_._1._1), t.collect { case ((Some(r), m), _) => (r, m) })
    }
    val untracedGridS = Stats.median(plain.map(_.gridS))
    val scans = Scale.executedFileScans(frame().binnedTable(axes)).toDouble
    val layers = Layers.add(Layers.medians(traced.map(_._2)), probes()) ++ Map(
      "io.file_scans" -> scans,
      "trace.overhead_ratio" -> Stats.median(traced.map(_._1.gridS)) / untracedGridS) ++
      extras(untracedGridS)
    Outcome(Map.empty, layers)
  }
}

object Pipelines {
  /** Events per input set. */
  val Events = 4000000L

  /** Least warm-up time before measuring, s. */
  val WarmUpS = 10.0

}

/** W1, the paper's Tutorial_02: jittered `[X 100, Y 100, t 200]` binning
  * over its ranges, saved with `BinnedGrid.save`. */
final class Tutorial02(run: Run, rebuild: Int => SparkSession) extends EventWorkload(run) {
  val axes = Seq(BinAxis("X", 100, Gen.XRange._1, Gen.XRange._2),
    BinAxis("Y", 100, Gen.YRange._1, Gen.YRange._2),
    BinAxis("t", 200, Gen.TRange._1, Gen.TRange._2))
  val savePath = s"${run.work}/grid"

  def jitter(p: EventPipeline): EventPipeline = run.span("EventPipeline.applyJitter") {
    p.applyJitter(axes.map(a => a.name -> a.step), run.seed)
  }

  def frame(): EventPipeline = jitter(rangeFilter(read()))

  def finish(grid: BinnedGrid): Double = {
    run.span("BinnedGrid.save")(BinnedGrid.save(grid, spark, savePath))
    grid.totalCount.toDouble
  }

  override def checkFirst(first: Rep): Unit =
    run.attempt("BinnedGrid.load of the saved grid equals the grid")(
      java.util.Arrays.equals(BinnedGrid.load(spark, savePath).data, first.grid.data))

  def repLayers(totals: Map[String, Double]): Map[String, Double] = Map(
    "binning.save_s" -> totals("BinnedGrid.save"),
    "binning.save_bytes" -> Layers.dirBytes(savePath).toDouble)

  def probes(): Map[String, Double] = {
    val scan = noopS(EventPipeline.read(spark, eventsPath).df)
    val filtered = noopS(rangeFilter(read()).df)
    val jittered = noopS(frame().df)
    Map("io.scan_s" -> scan, "transforms.jitter_s" -> (jittered - filtered))
  }

  /** One repetition on a single core against the parallel median. */
  override def extras(untracedGridS: Double): Map[String, Double] = {
    val cores = spark.sparkContext.defaultParallelism
    val single = new Tutorial02(new Run(rebuild(1), run.work, run.seed, run.seconds, false), rebuild)
    val oneCoreS = (1 to 2).map(_ => single.run.timed(single.frame().distributedBinning(axes))._2).last
    Map("binning.parallel_eff" -> oneCoreS / (cores * untracedGridS))
  }
}

/** W2: the calibrated k-space workflow, binned over `[kx 64, ky 64,
  * E 100]` and analysed on the driver. */
final class KspaceCalib(run: Run) extends EventWorkload(run) {
  import KspaceCalib._

  val axes = Seq(BinAxis("kx", 64, -2.0, 2.0), BinAxis("ky", 64, -2.0, 2.0),
    BinAxis("E", 100, ELo, EHi))

  /** Momentum correction: a thin-plate spline through the control points
    * sampled as a deformation field, looked up per event. */
  def dfield(): Column = {
    val tps = run.span("Warp.tpsFit")(Warp.tpsFit(TpsSrc, TpsDst))
    val field = run.span("Warp.deformationField")(Warp.deformationField(FieldN, tps(_, _)))
    val flat = new Array[Float](2 * FieldN * FieldN)
    for (c <- 0 until 2; x <- 0 until FieldN)
      System.arraycopy(field(c)(x), 0, flat, c * FieldN * FieldN + x * FieldN, FieldN)
    org.apache.spark.sql.GraftBridge.column(DfieldLookup(
      org.apache.spark.sql.GraftBridge.expression(col("X").cast("double") / FieldScale),
      org.apache.spark.sql.GraftBridge.expression(col("Y").cast("double") / FieldScale), flat, FieldN))
  }

  def calibrate(p: EventPipeline, withField: Boolean): EventPipeline = {
    val corrected = run.span("EventPipeline.applyECorrectionSpherical") {
      p.applyECorrectionSpherical("t", "X", "Y", Gen.Centre._1, Gen.Centre._2, SphD, SphT0, SphAmp)
    }
    val moved =
      if (withField) {
        val look = dfield()
        run.span("EventPipeline.appendColumn") {
          corrected.appendColumn("w", look)
            .appendColumn("xm", col("w.xm")).appendColumn("ym", col("w.ym")).deleteColumn("w")
        }
      } else corrected
        .appendColumn("xm", col("X") / FieldScale).appendColumn("ym", col("Y") / FieldScale)
    run.span("EventPipeline.appendKAxis") {
      moved.appendKAxis("xm", "ym", 0.0, 0.0, K0._1, K0._2, KScale, KScale, 1.0, 1.0)
    }.pipe(q => run.span("EventPipeline.appendEAxis")(q.appendEAxis("t", TofD, TofT0, TofE0)))
      .pipe(q => run.span("EventPipeline.appendMarker")(q.appendMarker("ADC", AdcLevels)))
  }

  def frame(): EventPipeline = calibrate(rangeFilter(read()), withField = true)

  def finish(grid: BinnedGrid): Double = {
    val Seq(nx, ny, ne) = axes.map(_.nbins)
    val e = axes(2).midpoints
    def edc(i: Int, j: Int) = Array.tabulate(ne)(k => grid.data((i * ny + j) * ne + k).toDouble)
    def slice(k: Int) = Array.tabulate(nx, ny)((i, j) => grid.data((i * ny + j) * ne + k).toDouble)
    val background = run.span("Analysis.shirley") {
      (for (i <- 0 until nx; j <- 0 until ny) yield Analysis.shirley(e, edc(i, j)).sum).sum
    }
    val peaks = run.span("Detect.peakDetect2dDao") {
      (0 until ne).map(k => Detect.peakDetect2dDao(slice(k)).length).sum
    }
    val filtered = run.span("FftFilter.fftfilter2d") {
      (0 until ne).map(k => FftFilter.fftfilter2d(slice(k)).map(_.sum).sum).sum
    }
    val traces = for (i <- 0 until nx; j <- 0 until ny) yield Fit.Trace(s"$i,$j", e, edc(i, j))
    val fits = run.span("Fit.fitTraces") {
      Fit.fitTraces(spark.createDataset(traces)(Encoders.product[Fit.Trace])).collect()
    }
    require(fits.length == nx * ny, s"fitTraces returned ${fits.length} of ${nx * ny} fits")
    lastIterations = fits.map(_.iters.toLong).sum
    background + peaks + filtered + lastIterations
  }

  private var lastIterations = 0L

  override def checkFirst(first: Rep): Unit =
    run.attempt(">= 95% of the events inside the k-space grid")(
      first.grid.totalCount >= 0.95 * Pipelines.Events)

  def repLayers(totals: Map[String, Double]): Map[String, Double] = Map(
    // the driver builds the field; the probe adds the per-event lookup
    "functions.dfield_s" -> (totals("Warp.tpsFit") + totals("Warp.deformationField")),
    "analysis.shirley_s" -> totals("Analysis.shirley"),
    "analysis.peak_detect_s" -> totals("Detect.peakDetect2dDao"),
    "analysis.fft_filter_s" -> totals("FftFilter.fftfilter2d"),
    "fit.fit_traces_s" -> totals("Fit.fitTraces"),
    "fit.iterations" -> lastIterations.toDouble)

  def probes(): Map[String, Double] = {
    val scan = noopS(EventPipeline.read(spark, eventsPath).df)
    val filtered = noopS(rangeFilter(read()).df)
    val calibrated = noopS(calibrate(rangeFilter(read()), withField = false).df)
    val looked = noopS(frame().df)
    Map("io.scan_s" -> scan, "transforms.calibrate_s" -> (calibrated - filtered),
      "functions.dfield_s" -> (looked - calibrated))
  }
}

object KspaceCalib {
  /** Spherical time-of-flight correction (distance, t0, amplitude). */
  val SphD = 2000.0; val SphT0 = 1000.0; val SphAmp = 1.0
  /** Deformation field: n x n pixels over the detector scaled down by 4. */
  val FieldN = 512; val FieldScale = 4.0
  val TpsSrc: Array[(Double, Double)] =
    (for (y <- Seq(100.0, 256.0, 412.0); x <- Seq(100.0, 256.0, 412.0)) yield (x, y)).toArray
  val TpsDst: Array[(Double, Double)] = TpsSrc.map { case (x, y) =>
    (x + 0.02 * (256.0 - x) * math.abs(256.0 - y) / 156.0, y + 0.02 * (256.0 - y) * math.abs(256.0 - x) / 156.0)
  }
  /** detrc2krc: centre pixel and momentum per pixel. */
  val K0 = (Gen.Centre._1 / FieldScale, Gen.Centre._2 / FieldScale); val KScale = 0.011
  /** tof2ev: drift length, time offset, energy offset. */
  val TofD = 0.8; val TofT0 = 0.0; val TofE0 = -4.5
  val AdcLevels = Seq((200.0, 1500.0, 1.0), (1500.0, 3000.0, 2.0), (3000.0, 4000.0, 3.0))

  private def tof2ev(t: Double): Double = {
    val u = TofD / (t * 4.125e-12 * 2 - TofT0)
    2.84281e-12 * u * u + TofE0
  }
  private val maxCorrection =
    (math.sqrt(1 + Gen.Radius * Gen.Radius / (SphD * SphD)) - 1) * SphT0 * SphAmp
  /** Energy range: the image of the t range, plus the spherical term. */
  val ELo: Double = tof2ev(Gen.TRange._2 + maxCorrection + 50.0)
  val EHi: Double = tof2ev(Gen.TRange._1 - 50.0)
}
