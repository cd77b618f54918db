package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for a traced run, fed by Spark's public listener
  * interfaces. Events are counted only while [[active]] is set; the harness
  * drains the listener bus before it flips the flag, so every event of a
  * timed op lands inside the window and none of an untimed check does.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var active = false

  private val counters = new ConcurrentHashMap[String, AtomicLong]()
  private def add(key: String, v: Long): Unit =
    counters.computeIfAbsent(key, _ => new AtomicLong()).addAndGet(v)
  def get(key: String): Long = Option(counters.get(key)).fold(0L)(_.get)

  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
  /** (start, end) epoch millis of every job that started while active. */
  val jobIntervals: ArrayBuffer[(Long, Long)] = ArrayBuffer.empty

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (active) { add("exec.jobs", 1); jobStarts.put(e.jobId, e.time) }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { s =>
      jobIntervals.synchronized { jobIntervals += ((s.longValue, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (active) add("exec.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (active && e.taskMetrics != null) {
      val m = e.taskMetrics
      add("exec.tasks", 1)
      add("exec.deser_ms", m.executorDeserializeTime)
      add("exec.run_ms", m.executorRunTime)
      add("exec.cpu_ns", m.executorCpuTime)
      add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("sources.input_bytes", m.inputMetrics.bytesRead)
      add("sources.input_rows", m.inputMetrics.recordsRead)
      add("sources.output_bytes", m.outputMetrics.bytesWritten)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (active) {
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        add(s"catalyst.${p}_ms", phases.get(p).fold(0L)(_.durationMs))
      }
      walk(qe.executedPlan)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Counts exchanges, reused exchanges, scans and written files in the
    * final (post-AQE) physical plan, including subquery plans.
    */
  private def walk(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    case c: CommandResultExec => walk(c.commandPhysicalPlan)
    case _: ReusedExchangeExec => add("catalyst.reused_exchanges", 1)
    case _: FileSourceScanExec | _: BatchScanExec | _: InMemoryTableScanExec =>
      add("catalyst.scans", 1)
    case other =>
      other match {
        case _: Exchange => add("catalyst.exchanges", 1)
        case w: DataWritingCommandExec =>
          add("sources.output_files", w.cmd.metrics.get("numFiles").fold(0L)(_.value))
        case _ =>
      }
      other.children.foreach(walk)
      other.subqueries.foreach(walk)
  }
}
