package graft.tools

import org.apache.spark.sql.functions._

/** Ad-hoc: pure-edge label-propagation convergence depth of the d07 LSH
  * candidate graph at a fixture scale, plus whether the old fixed-5 form
  * under-merged there. `runMain graft.tools.DepthCheck [sfDir]`
  */
object DepthCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)
    val feats = graft.ExtensionQueries.docFeatures(spark, sfDir)
    val pairs = graft.operators.Dedup
      .lshCandidatePairs(feats, bands = 4, rows = 3)
    val ids = feats.select(col("id"))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .union(ids.select(col("id").as("src"), col("id").as("dst")))
      .localCheckpoint()
    var labels = ids.select(col("id"), col("id").as("label")).localCheckpoint()
    var prev: Option[java.math.BigDecimal] = None
    var r = 0
    var stable = false
    while (!stable && r < 64) {
      labels = edges
        .join(labels.withColumnRenamed("id", "__src"), col("src") === col("__src"))
        .groupBy(col("dst")).agg(min("label").as("label"))
        .select(col("dst").as("id"), col("label"))
        .localCheckpoint()
      r += 1
      val s = Option(labels.agg(sum(col("label").cast("decimal(38,0)")))
        .head().getDecimal(0))
      stable = (s, prev) match {
        case (Some(a), Some(b)) => a.compareTo(b) == 0
        case (a, b) => a == b
      }
      println(s"DEPTH round=$r sum=${s.orNull} stable=$stable")
      prev = s
    }
    spark.stop()
  }
}
