package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count}

import graft.{ExtensionQueries8, FlagshipOracle, SparkEntry}
import graft.operators.Enrich
import graft.pipeline.LocationSummary
import graft.sources.Tables

/** The benchmark's JVM side. Runs one workload in one process with one
  * client in a closed loop (the next op starts when the previous one ends)
  * and writes every op's timing, failure reason and check target to a JSON
  * file; `perfbench/run.py` checks the outputs against DuckDB and turns the
  * file into metrics.
  *
  * Usage: Harness --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cpus <n> --sf <fixture dir> --work <per-run dir> --out <result.json>
  */
object Harness {

  /** One timed op: a registry query (builder + count) or a flagship job
    * (build + append). `checkFiles` are the parquet files (or globs) of the
    * op's output for the DuckDB fingerprint; empty when it is not
    * fingerprinted.
    */
  final case class Op(name: String, pass: Int, seconds: Double, buildSeconds: Double,
      rows: Long, error: Option[Throwable], checkFiles: Seq[String],
      startMs: Long, endMs: Long, buildEndMs: Long, gcMs: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName.getOrElse(a("workload"),
      sys.error(s"unknown workload ${a("workload")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val (sfDir, work) = (a("sf"), a("work"))
    val cpus = a("cpus").toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val t1 = System.nanoTime()
    warm(spark, sfDir)
    val t2 = System.nanoTime()
    workload.prebuild(spark, sfDir)
    val t3 = System.nanoTime()
    val setup = Map("session.start_s" -> (t1 - t0) / 1e9, "sources.warm_s" -> (t2 - t1) / 1e9,
      "artifacts.build_s" -> (t3 - t2) / 1e9, "setup_s" -> (t3 - t0) / 1e9,
      "artifacts.bytes" -> dirBytes(new File(work, "scratch")).toDouble)
    val settleS = settle()
    val tracer = if (trace) { val t = new Tracer; t.register(spark); t } else null
    val firstOpMs = System.currentTimeMillis()

    val ops = workload match {
      case Flagship => runFlagship(spark, sfDir, work, seed, seconds, tracer)
      case r: Registry => runRegistry(spark, sfDir, work, r, seed, tracer)
    }

    // cache state and retained heap after the timed phase, before clearing
    val storage = spark.sparkContext.getRDDStorageInfo
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val storageBytes = storage.map(s => s.memSize + s.diskSize).sum
    val heapMb = retainedHeapMb()

    val layers = if (trace) layerMetrics(tracer, ops, cpus) ++ Map(
      "cache.persisted_rdds" -> persisted.toDouble,
      "cache.storage_bytes" -> storageBytes.toDouble) else Map.empty[String, Double]
    // every workload's oracle texts, so the first run in a checkout can
    // fingerprint them all while it may still take long
    val oracleSql = SparkEntry.oracleSql
    val oracles = Map("flagship" -> FlagshipOracle.sql) ++
      Seq(Workloads.Heavy, Workloads.Light).flatMap(_.names)
        .map(n => n -> oracleSql.getOrElse(n, "")).toMap
    val result = Map(
      "meta" -> Map(
        "workload" -> workload.name, "seed" -> seed, "seconds" -> seconds,
        "trace" -> trace, "sf_dir" -> new File(sfDir).getAbsolutePath, "nproc" -> cpus,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version,
        "jvm_version" -> System.getProperty("java.version"),
        "list_digest" -> workload.digest,
        "settle_s" -> settleS,
        "jvm_start_to_first_op_s" -> (firstOpMs - jvmStartMs) / 1e3),
      "setup" -> setup,
      "ops" -> ops.map(o => Map(
        "name" -> o.name, "pass" -> o.pass, "seconds" -> o.seconds,
        "build_s" -> o.buildSeconds, "rows" -> o.rows,
        "error_class" -> o.error.map(_.getClass.getName).getOrElse(""),
        "error" -> o.error.map(e => String.valueOf(e.getMessage)).getOrElse(""),
        "check_files" -> o.checkFiles)),
      "retained_heap_mb" -> heapMb,
      "layers" -> layers,
      "regions" -> Workloads.Regions,
      "oracles" -> oracles)
    Files.write(Paths.get(a("out")), Json.render(result).getBytes(StandardCharsets.UTF_8))
    spark.catalog.clearCache()
    spark.stop()
  }

  /** The session `graft.Bench` times: same master, shuffle partitions, UI,
    * time zone and extra optimizer rule, so both measure the same plans.
    * Warehouse and local dirs live under the per-run directory.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.experimental.extraOptimizations ++= Seq(graft.plans.FuseDotProduct)
    spark
  }

  /** Bench's table warm pass: reads every column of every fixture table so
    * page decode and footer reads are not charged to the first op that
    * touches a table.
    */
  def warm(spark: SparkSession, sfDir: String): Unit =
    Tables.all.foreach { t =>
      val df = Tables.load(spark, sfDir, t)
      val aggs = df.columns.map(c => count(col(c)))
      df.agg(aggs.head, aggs.tail: _*).collect()
    }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Times one op: `build` (the layer entry point that returns the plan)
    * then `act` (the action that runs it, returning a row count or -1).
    * With a tracer, recording is on for exactly the op and the listener
    * bus is drained before it is switched off again.
    */
  private def timeOp[A](spark: SparkSession, tracer: Tracer, name: String, pass: Int)(
      build: => A)(act: A => Long): (Op, Option[A]) = {
    val startMs = System.currentTimeMillis()
    val gc0 = gcMs()
    var built: Option[A] = None
    var buildEnd = 0L
    if (tracer != null) tracer.active = true
    val t0 = System.nanoTime()
    val (rows, err) =
      try {
        val a = build
        buildEnd = System.nanoTime()
        built = Some(a)
        (act(a), None)
      } catch { case NonFatal(e) => (-1L, Some(e)) }
    val t1 = System.nanoTime()
    if (tracer != null) {
      ListenerBusAccess.drain(spark.sparkContext)
      tracer.active = false
    }
    val buildS = if (buildEnd == 0L) 0.0 else (buildEnd - t0) / 1e9
    val op = Op(name, pass, (t1 - t0) / 1e9, buildS, rows, err, Nil, startMs,
      startMs + (t1 - t0) / 1000000, startMs + math.round(buildS * 1000), gcMs() - gc0)
    (op, if (err.isEmpty) built else None)
  }

  /** One pass over the registry list in a seeded order; the lead query
    * always opens it, so the run's first (cold) op is the same whatever the
    * seed.
    */
  private def runRegistry(spark: SparkSession, sfDir: String, work: String, r: Registry,
      seed: Long, tracer: Tracer): Seq[Op] = {
    val order = r.lead +: new Random(seed).shuffle(r.names.filterNot(_ == r.lead))
    order.zipWithIndex.map { case (name, i) =>
      val (op, df) = timeOp(spark, tracer, name, 0)(
        SparkEntry.queries(name)(spark, sfDir))(_.count())
      // untimed: the output the DuckDB check fingerprints
      val check = df.filter(_ => r.fingerprint(name, seed)).toSeq.flatMap { d =>
        val path = new File(work, s"out/$i").getAbsolutePath
        try { d.write.parquet(path); Seq(s"$path/*.parquet") }
        catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] check write of $name failed: $e"); Nil
        }
      }
      op.copy(checkFiles = check)
    }
  }

  /** Nightly jobs until `seconds` have passed (at least one pass of
    * [[Workloads.FlagshipJobsPerPass]]), each appending to one sink.
    */
  private def runFlagship(spark: SparkSession, sfDir: String, work: String, seed: Long,
      seconds: Double, tracer: Tracer): Seq[Op] = {
    val rnd = new Random(seed)
    val sink = new File(work, "summary_zip_code")
    def parts(): Set[String] =
      Option(sink.listFiles()).fold(Set.empty[String])(_.iterator
        .filter(_.getName.startsWith("part-")).map(_.getAbsolutePath).toSet)
    val ops = ArrayBuffer.empty[Op]
    val start = System.nanoTime()
    while (ops.size < Workloads.FlagshipJobsPerPass ||
        (System.nanoTime() - start) / 1e9 + ops.last.seconds <= seconds) {
      val region = Workloads.Regions(rnd.nextInt(Workloads.Regions.size))
      val before = parts()
      val (op, _) = timeOp(spark, tracer, s"flagship:$region",
        ops.size / Workloads.FlagshipJobsPerPass)(
        LocationSummary.build(spark, sfDir, Enrich.DefaultAsOf, region)) { df =>
        LocationSummary.writeSummary(df, sink.getAbsolutePath); -1L
      }
      ops += op.copy(checkFiles = if (op.error.isEmpty) (parts() -- before).toSeq.sorted else Nil)
      // tomorrow's job sees new data: it must not reuse today's persisted
      // facts
      spark.catalog.clearCache()
    }
    ops.toSeq
  }

  /** Lets set-up's leftovers finish before the first timed op: a full GC,
    * then a wait (at most 5 s) until the JIT compilers have been idle for
    * 200 ms. The cold op then pays its own compilation, not set-up's.
    */
  private def settle(): Double = {
    val t0 = System.nanoTime()
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L; var idle = 0
    while (idle < 2 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      idle = if (now == last) idle + 1 else 0
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Live heap after full GCs. Spark's context cleaner frees broadcast and
    * shuffle state only after a GC has cleared their references, so the
    * lowest of several GC'd readings is the retained size.
    */
  private def retainedHeapMb(): Double =
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).fold(0L)(_.iterator.map(dirBytes).sum)

  /** Per-layer metrics of the timed phase, each a mean per timed op except
    * `exec.busy_frac` (executor run time over wall time times cores).
    */
  private def layerMetrics(t: Tracer, ops: Seq[Op], cpus: Int): Map[String, Double] = {
    val n = ops.size.toDouble
    val wall = ops.map(_.seconds).sum
    val jobs = t.jobIntervals.synchronized(t.jobIntervals.toVector).sortBy(_._1)
    // seconds of [lo, hi) covered by at least one job
    def covered(lo: Long, hi: Long): Long = {
      var total = 0L; var curLo = -1L; var curHi = -1L
      jobs.foreach { case (s0, e0) =>
        val s = math.max(s0, lo); val e = math.min(e0, hi)
        if (s < e) {
          if (s > curHi) { total += curHi - curLo; curLo = s; curHi = e }
          else curHi = math.max(curHi, e)
        }
      }
      total + (curHi - curLo)
    }
    val driverS = ops.map(o => (o.endMs - o.startMs - covered(o.startMs, o.endMs)) / 1e3).sum
    val eagerJobs = ops.map(o => jobs.count { case (s, _) => s >= o.startMs && s < o.buildEndMs }).sum
    val registryOps = ops.filterNot(_.name.startsWith("flagship:"))
    val flagshipOps = ops.filter(_.name.startsWith("flagship:"))
    def per(key: String, scale: Double = 1.0) = t.get(key) * scale / n
    Map(
      "registry.build_s" -> registryOps.map(_.buildSeconds).sum / n,
      "registry.eager_jobs" -> (if (registryOps.isEmpty) 0.0 else eagerJobs / n),
      "pipeline.build_s" -> flagshipOps.map(_.buildSeconds).sum / n,
      "pipeline.write_s" -> flagshipOps.map(o => o.seconds - o.buildSeconds).sum / n,
      "catalyst.analysis_s" -> per("catalyst.analysis_ms", 1e-3),
      "catalyst.optimization_s" -> per("catalyst.optimization_ms", 1e-3),
      "catalyst.planning_s" -> per("catalyst.planning_ms", 1e-3),
      "catalyst.exchanges" -> per("catalyst.exchanges"),
      "catalyst.reused_exchanges" -> per("catalyst.reused_exchanges"),
      "catalyst.scans" -> per("catalyst.scans"),
      "exec.jobs" -> per("exec.jobs"),
      "exec.stages" -> per("exec.stages"),
      "exec.tasks" -> per("exec.tasks"),
      "exec.deser_s" -> per("exec.deser_ms", 1e-3),
      "exec.driver_s" -> driverS / n,
      "exec.run_s" -> per("exec.run_ms", 1e-3),
      "exec.cpu_s" -> per("exec.cpu_ns", 1e-9),
      "exec.busy_frac" -> t.get("exec.run_ms") / 1e3 / (wall * cpus),
      "exec.shuffle_write_bytes" -> per("exec.shuffle_write_bytes"),
      "exec.shuffle_read_bytes" -> per("exec.shuffle_read_bytes"),
      "exec.spill_bytes" -> per("exec.spill_bytes"),
      "exec.gc_s" -> ops.map(_.gcMs).sum / 1e3 / n,
      "sources.input_bytes" -> per("sources.input_bytes"),
      "sources.input_rows" -> per("sources.input_rows"),
      "sources.output_bytes" -> per("sources.output_bytes"),
      "sources.output_files" -> per("sources.output_files"))
  }
}

/** A workload: what set-up builds and which ops a run times. */
sealed trait Workload {
  def name: String
  def prebuild(spark: SparkSession, sfDir: String): Unit
  def digest: String
}

case object Flagship extends Workload {
  val name = "flagship_nightly"
  def prebuild(spark: SparkSession, sfDir: String): Unit = ()
  def digest: String = Workloads.sha(Workloads.Regions :+ Workloads.FlagshipJobsPerPass.toString)
}

/** A registry mix: one pass over `names`, `lead` first, after set-up has
  * built `artifacts`.
  */
final case class Registry(name: String, lead: String, names: Seq[String],
    artifacts: Seq[(SparkSession, String) => Any]) extends Workload {
  def prebuild(spark: SparkSession, sfDir: String): Unit = artifacts.foreach(_(spark, sfDir))
  def digest: String = Workloads.sha(names)
  /** Whether this op's output is re-run for a fingerprint check: about one
    * op in [[Workloads.CheckEvery]], chosen from query name and seed (every
    * op's row count is checked regardless).
    */
  def fingerprint(query: String, seed: Long): Boolean =
    Math.floorMod((query, seed).hashCode, Workloads.CheckEvery) == 0
}

object Workloads {
  val Regions: Vector[String] = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val FlagshipJobsPerPass = 5
  /** Re-running every registry op for its fingerprint would double the
    * heavy run; row counts are checked on every op.
    */
  val CheckEvery = 6

  def sha(xs: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(xs.mkString("\n").getBytes(StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString

  /** A slice of the ROADMAP heavy tail, sized to the run budget (see
    * README): executor time, shuffle, artifact reads and GC dominate.
    * Set-up pre-builds the lake-catalog prior q104 serves from, through the
    * same builder `graft.Bench` warms.
    */
  val Heavy = Registry("registry_heavy", "d28_entity_groups", Seq(
    "q104_incremental_lake_sweep", "d28_entity_groups", "g01_pagerank"),
    artifacts = Seq(ExtensionQueries8.lakeCatalogPriorRoot))

  /** Short production queries where per-query overhead (analysis,
    * optimization, job and task scheduling, eager work in builders)
    * dominates. See [[LightList]].
    */
  val Light = Registry("registry_light", "q09_dim_filter", LightList.names, artifacts = Nil)

  val byName: Map[String, Workload] = Seq(Flagship, Heavy, Light).map(w => w.name -> w).toMap
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
