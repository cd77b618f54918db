package graft.tools

import org.apache.spark.sql.functions._

/** Ad-hoc: wall-clock + equality comparison of the two exact-CC
  * implementations (pointer-jumping label propagation vs large-star /
  * small-star contraction) on the d07 LSH candidate graph at a fixture
  * scale. `runMain graft.tools.StarCheck [sfDir]`
  */
object StarCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)
    val feats = graft.ExtensionQueries.docFeatures(spark, sfDir)
    val pairs = graft.operators.Dedup
      .lshCandidatePairs(feats, bands = 4, rows = 3).localCheckpoint()
    val ids = feats.select(col("id")).localCheckpoint()
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    // warm order alternates across runs if needed; each form pays its own
    // full propagation (no shared caches beyond the checkpointed inputs)
    val (prop, tProp) = time(graft.operators.Dedup
      .labelClustersUncached(ids, pairs, maxRounds = 64)._1.collect().toSet)
    val (star, tStar) = time(graft.operators.Dedup
      .starContractClusters(ids, pairs).collect()
      .map(r => org.apache.spark.sql.Row(r.get(0), r.get(1))).toSet)
    println(f"STARCHECK sf=$sfDir prop=$tProp%.2fs star=$tStar%.2fs " +
      s"equal=${prop.map(r => (r.get(0), r.get(1))) ==
        star.map(r => (r.get(0), r.get(1)))} n=${prop.size}")
    spark.stop()
  }
}
