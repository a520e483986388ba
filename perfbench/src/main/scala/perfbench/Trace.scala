package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the traced run collects for one op. Spark events reach them
  * through the job group the runner sets to the op id. */
final class OpTrace(val id: Long) {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuMs, taskGcMs = 0.0
  var shuffleRead, shuffleWrite, spill, peakMem = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  var exchanges, unpartitionedWindows = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Double, Double)]
  private[perfbench] val jobStart = mutable.Map.empty[Int, Double]
}

/** A timed call into one layer, in epoch milliseconds. */
final case class Span(op: Long, layer: String, start: Double, end: Double)

/** The traced run's instrumentation. It only observes: a SparkListener for
  * jobs, stages and tasks, a QueryExecutionListener for Catalyst phase times
  * and final-plan shape, spans the workloads put around calls into a layer,
  * and JVM-wide counters (GC, codegen) read at op boundaries. Everything
  * stays in memory until the run writes its report. */
final class Tracer(spark: SparkSession) {
  private val ops = new ConcurrentHashMap[Long, OpTrace]()
  private val stageOp = new ConcurrentHashMap[Int, OpTrace]()
  private val jobOp = new ConcurrentHashMap[Int, OpTrace]()
  @volatile private var current: OpTrace = _
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Nanoseconds spent in the tracer's own callbacks and bookkeeping. */
  val overheadNs = new AtomicLong()

  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private def charged[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  private def opOf(props: java.util.Properties): Option[OpTrace] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption).flatMap(id => Option(ops.get(id)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = charged {
      opOf(e.properties).foreach { t =>
        t.synchronized { t.jobs += 1; t.jobStart(e.jobId) = e.time.toDouble }
        jobOp.put(e.jobId, t)
        e.stageInfos.foreach(s => stageOp.put(s.stageId, t))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = charged {
      Option(jobOp.remove(e.jobId)).foreach { t =>
        t.synchronized {
          t.jobStart.remove(e.jobId).foreach(s => t.jobSpans += ((s, e.time.toDouble)))
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = charged {
      Option(stageOp.get(e.stageInfo.stageId)).foreach(t => t.synchronized(t.stages += 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = charged {
      Option(stageOp.get(e.stageId)).foreach { t =>
        val m = e.taskMetrics
        t.synchronized {
          t.tasks += 1
          if (m != null) {
            t.taskRunMs += m.executorRunTime
            t.taskCpuMs += m.executorCpuTime / 1e6
            t.taskGcMs += m.jvmGCTime
            t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
          }
        }
      }
    }
  }

  private object planShape extends AdaptiveSparkPlanHelper {
    def count(plan: SparkPlan): (Long, Long) = {
      val ex = collectWithSubqueries(plan) {
        case e: ShuffleExchangeLike => e
        case e: BroadcastExchangeLike => e
      }.size.toLong
      val win = collectWithSubqueries(plan) {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }.size.toLong
      (ex, win)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      charged {
        val t = current
        if (t != null) {
          val ph = qe.tracker.phases
          def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
          val (ex, win) = planShape.count(qe.executedPlan)
          t.synchronized {
            t.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
            t.optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
            t.planningMs += ms(QueryPlanningTracker.PLANNING)
            t.exchanges += ex
            t.unpartitionedWindows += win
          }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Double = gcBeans.map(_.getCollectionTime.max(0L)).sum.toDouble
  private def compiles: Double = CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
  private def compileMs: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6

  private var startCounters = (0.0, 0.0, 0.0)
  private var startMs = 0.0

  def begin(id: Long): Unit = charged {
    val t = new OpTrace(id)
    ops.put(id, t)
    current = t
    startCounters = (gcMs, compiles, compileMs)
    startMs = nowMs
  }

  /** Waits for the op's events and returns its counters as report fields. */
  def end(id: Long): Map[String, Any] = {
    PerfbenchBus.drain(spark.sparkContext)
    charged {
      val t = ops.remove(id)
      current = null
      stageOp.values().removeIf(_ eq t)
      jobOp.values().removeIf(_ eq t)
      val (gc0, n0, c0) = startCounters
      Map(
        "start_ms" -> startMs, "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
        "job_spans" -> t.jobSpans.toSeq.map { case (s, e) => Seq(s, e) },
        "task_run_ms" -> t.taskRunMs, "task_cpu_ms" -> t.taskCpuMs,
        "task_gc_ms" -> t.taskGcMs, "shuffle_read_b" -> t.shuffleRead,
        "shuffle_write_b" -> t.shuffleWrite, "spill_b" -> t.spill,
        "peak_mem_b" -> t.peakMem, "analysis_ms" -> t.analysisMs,
        "optimization_ms" -> t.optimizationMs, "planning_ms" -> t.planningMs,
        "exchanges" -> t.exchanges, "unpartitioned_windows" -> t.unpartitionedWindows,
        "jvm_gc_ms" -> (gcMs - gc0), "codegen_compiles" -> (compiles - n0),
        "codegen_ms" -> (compileMs - c0))
    }
  }

  def span[R](op: Long, layer: String)(body: => R): R = {
    val s = nowMs
    try body finally charged(spans += Span(op, layer, s, nowMs))
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}
