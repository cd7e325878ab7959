package perfbench

/** Per-layer figures derived from what [[SparkProbe]] collected over one
  * repetition. */
object Layers {

  /** Planning, execution and scheduling totals of every SQL execution
    * and stage in the repetition. `codegenS` is the compile time spent. */
  def sql(stages: Seq[StageRec], execs: Seq[ExecRec], jobs: Int, codegenS: Double): Map[String, Double] =
    Map(
      "sql.analysis_s" -> execs.map(_.analysisS).sum,
      "sql.optimization_s" -> execs.map(_.optimizationS).sum,
      "sql.planning_s" -> execs.map(_.planningS).sum,
      "sql.codegen_s" -> codegenS,
      "sql.exec_s" -> execs.map(_.durationS).sum,
      "sql.jobs" -> jobs.toDouble,
      "sql.stages" -> stages.length.toDouble,
      "sql.tasks" -> stages.map(_.tasks).sum.toDouble,
      "sql.sched_delay_s" -> stages.map(_.schedDelayS).sum,
      "sql.shuffle_bytes" -> stages.map(_.shuffleWriteBytes).sum.toDouble,
      "io.rows_read" -> stages.map(_.inputRecords).sum.toDouble)

  /** The binning job: stages submitted inside the span `span`. Partial
    * aggregation is the map side (it writes the shuffle), the merge the
    * reduce side (it reads it). */
  def binning(stages: Seq[StageRec], span: String): Map[String, Double] = {
    val b = stages.filter(_.span == span)
    val wall = if (b.isEmpty) 0.0 else (b.map(_.endMs).max - b.map(_.startMs).min) / 1e3
    Map(
      "binning.aggregate_s" -> wall,
      "binning.partial_task_s" -> b.filter(_.shuffleWriteBytes > 0).map(_.runS).sum,
      "binning.merge_task_s" -> b.filter(_.shuffleReadBytes > 0).map(_.runS).sum,
      "binning.shuffle_write_bytes" -> b.map(_.shuffleWriteBytes).sum.toDouble,
      "binning.shuffle_records" -> b.map(_.shuffleWriteRecords).sum.toDouble,
      "binning.spill_bytes" -> b.map(_.spillBytes).sum.toDouble)
  }

  /** Per-key median over repetitions. */
  def medians(reps: Seq[Map[String, Double]]): Map[String, Double] =
    reps.flatMap(_.keys).distinct.map(k => k -> Stats.median(reps.map(_.getOrElse(k, 0.0)))).toMap

  /** Sum of two metric maps, key by key. */
  def add(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap

  /** Every per-layer metric, the ones a workload did not measure at 0. */
  def complete(measured: Map[String, Double]): Map[String, Double] = {
    val unknown = measured.keySet -- Catalog.perLayer.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the catalog: ${unknown.mkString(", ")}")
    Catalog.perLayer.map { case (k, _) => k -> measured.getOrElse(k, 0.0) }.toMap
  }

  /** Bytes under a directory tree. */
  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
