package graft.tools

import org.apache.spark.sql.functions._

/** g03 cost probe: rounds-to-convergence and phase wall for the k-core
  * peel at a fixture dir. `runMain graft.tools.KcProbe [sfDir]`.
  */
object KcProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)
    val t0 = System.nanoTime()
    val pairs = graft.ExtensionQueries.verifiedPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val n = pairs.count()
    val t1 = System.nanoTime()
    val (core, rounds) = graft.ExtensionQueries7.kcoreEdgesWithRounds(
      pairs, graft.ExtensionQueries7.CoreK,
      graft.ExtensionQueries7.CoreMaxRounds)
    val kept = core.count()
    val t2 = System.nanoTime()
    println(f"[kcprobe] dir=$dir pairs=$n pairBuild=${(t1 - t0) / 1e9}%.2f s " +
      f"rounds=$rounds peel=${(t2 - t1) / 1e9}%.2f s " +
      f"(${(t2 - t1) / 1e9 / math.max(rounds, 1)}%.2f s/round) coreEdges=$kept")
    spark.stop()
  }
}
