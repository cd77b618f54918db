package graft.tools

import org.apache.spark.sql.functions._

/** Ad-hoc: Lloyd convergence depth of s32's k-means at a fixture scale —
  * the measurement [[graft.ExtensionQueries8.KmConvOracleUnroll]]'s margin
  * rests on. `runMain graft.tools.KmDepth [sfDir]`
  */
object KmDepth {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cap = args.lift(1).map(_.toInt)
      .getOrElse(graft.ExtensionQueries8.KmConvMaxIters)
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)
    val sampleN = args.lift(2).map(_.toInt).getOrElse(0) // 0 = full corpus
    val full = graft.ExtensionQueries.embeddingsD(spark, sfDir)
      .select(col("vec_id"), col("v"))
    val e = if (sampleN <= 0) full
      else full.withColumn("hrank",
          pmod(pmod(col("vec_id"), lit(1000003L)) * lit(427799L), lit(1000003L)))
        .orderBy(col("hrank"), col("vec_id")).limit(sampleN)
        .select(col("vec_id"), col("v"))
    val (_, _, iters) = graft.operators.Kmeans.fitConverged(e,
      k = graft.ExtensionQueries.IvfCells, maxIters = cap)
    println(s"KMDEPTH dir=$sfDir k=${graft.ExtensionQueries.IvfCells} cap=$cap sample=$sampleN iters=$iters")
    spark.stop()
  }
}
