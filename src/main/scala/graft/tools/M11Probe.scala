package graft.tools

import org.apache.spark.sql.functions._

/** Ad-hoc: m11's cost composition per decade — distinct dHash count,
  * band-PAIR candidate rows at the distinct-hash level, and near-dup
  * (hamming ≤ 6) output rows — the denominators behind its sf1 bench
  * line. `runMain graft.tools.M11Probe [sfDir]`
  */
object M11Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)
    val hashes = graft.operators.Multimodal.dHash64(
      graft.operators.Multimodal.mediaFromDocuments(
        graft.sources.Tables.load(spark, sfDir, "documents"))).toDF()
    val nImgs = hashes.count()
    val dh = hashes.select(col("phash")).distinct().persist()
    val nDistinct = dh.count()
    val bandPairs = for { i <- 0 until 8; j <- i + 1 until 8 } yield (i, j)
    // the same band extraction the m05/m11 queries use — the probe's
    // denominators must describe the real pipeline
    def bv(b: Int) = graft.ExtensionQueries3.phashBandVal(col("phash"), b)
    val keyed = dh.select(col("phash"),
      explode(array(bandPairs.map { case (i, j) =>
        struct(lit(i * 8 + j).as("bp"), bv(i).as("bvi"), bv(j).as("bvj"))
      }: _*)).as("g"))
      .select(col("phash"), col("g.bp"), col("g.bvi"), col("g.bvj"))
    val joinRows = keyed.as("a").join(keyed.as("b"),
        col("a.bp") === col("b.bp") && col("a.bvi") === col("b.bvi") &&
        col("a.bvj") === col("b.bvj") && col("a.phash") < col("b.phash"))
      .select(col("a.phash").as("pa"), col("b.phash").as("pb"))
    val nJoinRows = joinRows.count()
    val cand = joinRows.distinct().persist()
    val nCand = cand.count()
    val nNearDup = cand
      .filter(bit_count(col("pa").bitwiseXOR(col("pb"))) <= 6).count()
    println(s"M11PROBE sf=$sfDir imgs=$nImgs distinct_hashes=$nDistinct " +
      s"bandpair_join_rows=$nJoinRows cand_hash_pairs=$nCand " +
      s"neardup_hash_pairs=$nNearDup")
    spark.stop()
  }
}
