package graft

import org.apache.spark.sql.SparkSession

import graft.plans.FuseDotProduct

/** One shared local session for every suite (spark-guide: one session per
  * suite; sbt forks a single test JVM, so share across suites too).
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4,
    // catalog-managed tables (SinkSpec) land in tmp, not the repo
    "spark.sql.warehouse.dir" ->
      s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse")

  /** Runs `body` with [[FuseDotProduct]] excluded from the optimizer, so the
    * portable dot-product fold stays the interpreted fold a test compares a
    * native form against. Force plans inside `body`: optimization is lazy.
    */
  def portable[A](body: => A): A = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, FuseDotProduct.ruleName)
    try body finally spark.conf.unset(key)
  }
}
