package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.operators.Dedup

/** Re-derives the `registry_light` candidates: times every production
  * query once in name order, then twice more in two shuffled orders with
  * caches and the cluster memo cleared before each pass, and marks the
  * queries that read anything but the fixture or write anything. Prints
  * one line per query: name, the three times, fixture-only flag.
  *
  * Usage: Calibrate <fixture dir> <per-run dir>
  */
object Calibrate {
  private val diagnostics = Set("s13_knn_graph", "s32_kmeans_converged", "m05_phash_neardup")

  def main(args: Array[String]): Unit = {
    val (sfDir, work) = (args(0), args(1))
    val fixture = new File(sfDir).getAbsolutePath
    val spark = Harness.session(Runtime.getRuntime.availableProcessors(), work)
    Harness.warm(spark, sfDir)
    val foreign = mutable.Set.empty[String]
    @volatile var current = ""
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (touchesOutsideFixture(qe.executedPlan, fixture)) foreign.synchronized(foreign += current)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val names = SparkEntry.queries.keys.toVector.filterNot(diagnostics).sorted
    def time(name: String): Double = {
      current = name
      val t0 = System.nanoTime()
      val s = try { SparkEntry.queries(name)(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case NonFatal(e) => System.err.println(s"$name failed: $e"); Double.NaN }
      ListenerBusAccess.drain(spark.sparkContext)
      s
    }
    val first = names.map(n => n -> time(n)).toMap
    val candidates = names.filter(n => first(n) < 1.0 && !foreign(n))
    val later = Seq(1L, 2L).map { seed =>
      spark.catalog.clearCache(); Dedup.clearClusterMemo(spark)
      new Random(seed).shuffle(candidates).map(n => n -> time(n)).toMap
    }
    names.foreach { n =>
      val t = Seq(Some(first(n))) ++ later.map(_.get(n))
      println(f"CAL $n ${t.map(_.fold("-")(x => f"$x%.3f")).mkString(" ")} ${!foreign(n)}")
    }
    spark.stop()
  }

  private def touchesOutsideFixture(p: SparkPlan, fixture: String): Boolean = p match {
    case a: AdaptiveSparkPlanExec => touchesOutsideFixture(a.executedPlan, fixture)
    case s: QueryStageExec => touchesOutsideFixture(s.plan, fixture)
    case c: CommandResultExec => touchesOutsideFixture(c.commandPhysicalPlan, fixture)
    case _: DataWritingCommandExec => true
    case f: FileSourceScanExec =>
      f.relation.location.rootPaths.exists(r => !r.toUri.getPath.startsWith(fixture))
    case i: InMemoryTableScanExec => touchesOutsideFixture(i.relation.cachedPlan, fixture)
    case other => (other.children ++ other.subqueries).exists(touchesOutsideFixture(_, fixture))
  }
}
