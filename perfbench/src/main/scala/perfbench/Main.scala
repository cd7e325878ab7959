package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds it and starts it as
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <scratch dir> --out <result file>
  * }}}
  *
  * and prints the result file as its last line. */
object Main {
  val Workloads = Seq("tutorial02_xyt", "kspace_calib")

  /** The session `graft.Bench` uses: all cores, one shuffle partition per
    * core, AQE on, a codegen cache of 5000 generated classes. */
  def session(cores: Int, work: String): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    v.toString
  }

  def resultJson(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""", ",", "}}")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, s"$work/$workload", seed, seconds, traced)
    val outcome = workload match {
      case "tutorial02_xyt" => new Tutorial02(run, c => session(c, work)).execute(sessionS)
      case "kspace_calib" => new KspaceCalib(run).execute(sessionS)
    }
    val metrics =
      if (traced) {
        val layers = Layers.complete(outcome.perLayer)
        Catalog.perLayer.map { case (k, u) => (k, layers(k), u) }
      } else Catalog.endToEnd.map { case (k, u) => (k, outcome.endToEnd(k), u) }
    if (traced) Files.write(Paths.get(s"$work/spans-$workload-$seed.jsonl"),
      run.tracer.toJsonLines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.write(Paths.get(a("out")),
      resultJson(run.failed == 0, run.attempted, run.failed, metrics).getBytes(UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
