package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ad-hoc: grades the graph-walk ANN family's recall at a REAL decade on
  * CLUSTERED embeddings — closing the carried fixture-blocked item the
  * e22 way (build the fixture variant ourselves: ScaleUp's clusterBoost
  * arg plants `factor` directional clusters with the copy index as
  * ground truth). The registered fixture's embeddings are isotropic, so
  * no kNN graph over them is navigable and the honest walk read-off is
  * ~chance (r14: ~0.07); Round15Spec grades navigability at 200
  * constructed points — this probe does it at fixture scale through the
  * REAL serving stack: s31's occupancy-capped IVF-built graph,
  * ExtensionQueries8.walkOver with the production beam geometry.
  *
  * `runMain graft.tools.WalkProbe <clusteredDir> [queriesPerCluster]` —
  * prints, per entry rule (s36 fixed entries / s38 symmetric edges),
  * recall@5 vs brute truth and cluster purity@5.
  *
  * Intended fixture size: the 20k-vector clustered decade (sf0.1 ×10,
  * clusterBoost). The brute-force truth below is a non-equi join of
  * every query against the FULL corpus — |q|·|corpus| cosine
  * evaluations — fine at 20k, quadratic-ish beyond it, so the probe
  * fails fast above [[MaxCorpus]] instead of running for hours.
  */
object WalkProbe {
  /** Corpus-size bound for the brute-truth non-equi join (see object doc). */
  val MaxCorpus = 200000L

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val perCluster = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)
    import graft.{ExtensionQueries, ExtensionQueries3, ExtensionQueries8}
    val g = ExtensionQueries3.knnGraph(spark, dir,
        ExtensionQueries.IvfProbe, Some(ExtensionQueries3.GraphCapR))
      .select(col("vec_id").as("src"), col("neighbor").as("dst"))
      .persist()
    val e = ExtensionQueries.embeddingsD(spark, dir)
    val nE = e.count()
    require(nE <= MaxCorpus,
      s"WalkProbe's brute truth is |q|x|corpus| cosines — corpus has $nE " +
        s"vectors, bound is $MaxCorpus; point it at the 20k clustered decade")
    val copies = e.select((col("vec_id") / lit(graft.ScaleUp.KeyShift))
      .cast("long").as("c")).distinct().collect().map(_.getLong(0)).sorted
    // queries: per copy-cluster, perCluster ids starting at offset 5 —
    // PAST the WalkEntryN=4 smallest ids the fixed-entry rule uses as
    // seeds, so a query is never its own entry point (which would hand
    // the fixed-entry rules a free hit at rank 1)
    val qIds = copies.flatMap(c =>
      (5 until 5 + perCluster).map(k => c * graft.ScaleUp.KeyShift + k))
    val q = e.filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv")).persist()
    val nQ = q.count()
    val wQ = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val truth = q.join(e, col("vec_id") =!= col("query_id"))
      .withColumn("cos", graft.operators.Agg.roundAt(
        graft.operators.VectorOps.cosineFast(col("qv"), col("v")), 6))
      .withColumn("rn", row_number().over(wQ)).filter(col("rn") <= 5)
      .select(col("query_id"), col("vec_id")).persist()
    // s37/s39's query-aware entry rule — the REAL serving seeds
    // (ExtensionQueries8.ivfWalkSeeds), not a re-implementation
    val ivfSeeds = ExtensionQueries8.ivfWalkSeeds
    val fixedSeeds: (DataFrame, DataFrame) => DataFrame = (qq, ee) =>
      qq.select(col("query_id")).crossJoin(ee.orderBy(col("vec_id"))
        .limit(ExtensionQueries8.WalkEntryN).select(col("vec_id")))
    def grade(tag: String, graph: DataFrame,
        seeds: (DataFrame, DataFrame) => DataFrame, hops: Int): Unit = {
      val walked = ExtensionQueries8.walkOver(graph, e, q, seeds,
          hops = hops)
        .select(col("query_id"), col("vec_id"))
      val recall = walked.join(truth, Seq("query_id", "vec_id")).count()
        .toDouble / (5.0 * nQ)
      val purity = walked.filter(
          (col("vec_id") / lit(graft.ScaleUp.KeyShift)).cast("long") ===
          (col("query_id") / lit(graft.ScaleUp.KeyShift)).cast("long"))
        .count().toDouble / (5.0 * nQ)
      println(f"WALKPROBE dir=$dir rule=$tag hops=$hops queries=$nQ " +
        f"recall@5=$recall%.3f purity@5=$purity%.3f")
    }
    val gSym = g.union(
      g.select(col("dst").as("src"), col("src").as("dst"))).distinct()
      .persist()
    val H = ExtensionQueries8.WalkHops
    grade("s36_fixed_entries", g, fixedSeeds, H)
    grade("s38_symmetric", gSym, fixedSeeds, H)
    grade("s37_ivf_entries", g, ivfSeeds, H)
    grade("s39_ivf_sym", gSym, ivfSeeds, H)
    grade("s39_ivf_sym_hops6", gSym, ivfSeeds, 6)
    spark.stop()
  }
}
