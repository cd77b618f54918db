package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The one place a Spark session is built. Every main, probe and test suite
  * gets its session here, so all of them plan with the same optimizer rules
  * and SQL functions ([[GraftExtensions]]) — the plan Bench times is the plan
  * Verify checks and the tests pin.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else 4. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** A `local[cpus]` session with `cpus` shuffle partitions, the UI off and
    * a UTC session time zone; `conf` pairs are applied last. If a session
    * already exists in this JVM, `getOrCreate` returns it.
    */
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
