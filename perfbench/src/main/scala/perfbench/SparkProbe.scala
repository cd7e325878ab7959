package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task metrics of one finished stage, tagged with the harness span that
  * was open on the driver thread when its job was submitted. */
final case class StageRec(span: String, startMs: Long, endMs: Long,
                          tasks: Int, runS: Double, schedDelayS: Double,
                          shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                          shuffleReadBytes: Long, spillBytes: Long, inputRecords: Long)

/** Planning phases of one finished SQL execution, from its
  * `QueryPlanningTracker`. */
final case class ExecRec(analysisS: Double, optimizationS: Double, planningS: Double,
                         durationS: Double)

/** Spark's public listener interfaces, read from outside the library:
  * `SparkListener` stage/task metrics and `QueryExecutionListener`
  * planning phases, plus the process-wide codegen compile-time counter.
  * The listeners are attached only while a traced repetition runs.
  * Everything is collected on the listener-bus thread; callers read it
  * with [[take]] after [[drain]], which hands back and clears what
  * arrived since the previous call. */
final class SparkProbe(spark: SparkSession) {
  private val SpanKey = "perfbench.span"
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val execs = mutable.ArrayBuffer.empty[ExecRec]
  private val open = mutable.Map.empty[Int, Array[Double]]
  private val stageSpan = mutable.Map.empty[Int, String]
  private var jobs = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkProbe.this.synchronized {
      jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = SparkProbe.this.synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
      stageSpan(e.stageInfo.stageId) = tag
      open(e.stageInfo.stageId) = new Array[Double](8)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkProbe.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = open.getOrElseUpdate(e.stageId, new Array[Double](8))
        val info = e.taskInfo
        val run = m.executorRunTime.toDouble
        val delay = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime)
        a(0) += 1
        a(1) += run / 1e3
        a(2) += delay / 1e3
        a(3) += m.shuffleWriteMetrics.bytesWritten
        a(4) += m.shuffleWriteMetrics.recordsWritten
        a(5) += m.shuffleReadMetrics.totalBytesRead
        a(6) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(7) += m.inputMetrics.recordsRead
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = SparkProbe.this.synchronized {
      val info = e.stageInfo
      val a = open.remove(info.stageId).getOrElse(new Array[Double](8))
      stages += StageRec(stageSpan.remove(info.stageId).getOrElse(""),
        info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L),
        a(0).toInt, a(1), a(2), a(3).toLong, a(4).toLong, a(5).toLong, a(6).toLong, a(7).toLong)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      SparkProbe.this.synchronized {
        val ph = qe.tracker.phases
        def s(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
        execs += ExecRec(s("analysis"), s("optimization"), s("planning"), durationNs / 1e9)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Registers the listeners; until then, and after [[detach]], the
    * probe costs the session nothing. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Tag the Spark jobs submitted from this thread with a span name. */
  def tag(span: String): Unit = spark.sparkContext.setLocalProperty(SpanKey, span)

  def drain(): Unit = BenchBridge.drainListeners(spark.sparkContext)

  /** Stages, executions and job count since the previous call. */
  def take(): (Seq[StageRec], Seq[ExecRec], Int) = {
    drain()
    synchronized {
      val r = (stages.toSeq, execs.toSeq, jobs)
      stages.clear(); execs.clear(); jobs = 0
      r
    }
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object SparkProbe {
  /** Cumulative whole-stage and expression codegen compile time, s. */
  def codegenS: Double = CodeGenerator.compileTime / 1e9
}

/** Process-wide JVM counters: GC and JIT time (cumulative, s) and the
  * peak heap since the last [[resetPeak]]. */
object Jvm {
  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  def jitS: Double = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime / 1e3 else 0.0
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
