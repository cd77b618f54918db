package graft.tools

import org.apache.spark.sql.functions._

/** Ad-hoc: candidate-pair counts per decade for the pair-verify family
  * (d04/d14/d21 ride the word-shingle LSH pairs; m05 rides the dHash
  * 8-bit band join) — the denominator behind their sf1 bench lines.
  * `runMain graft.tools.PairCount [sfDir]`
  */
object PairCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)
    val feats = graft.ExtensionQueries.docFeatures(spark, sfDir)
    val nDocs = feats.count()
    val lsh = graft.operators.Dedup
      .lshCandidatePairs(feats, bands = 4, rows = 3).count()
    val hashes = graft.operators.Multimodal.dHash64(
      graft.operators.Multimodal.mediaFromDocuments(
        graft.sources.Tables.load(spark, sfDir, "documents"))).toDF()
    val banded = hashes.select(col("doc_id"),
      explode(array((0 until 8).map(b => struct(lit(b).as("band_idx"),
        shiftrightunsigned(col("phash"), 8 * b).bitwiseAND(lit(255L))
          .as("bv"))): _*)).as("g"))
      .select(col("doc_id"), col("g.band_idx"), col("g.bv"))
    val mediaPairs = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.bv") === col("b.bv") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val occupancy = banded.groupBy(col("band_idx"), col("bv"))
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("mx"),
        expr("percentile(n, 0.99)").as("p99")).head()
    println(s"PAIRCOUNT sf=$sfDir docs=$nDocs lsh_pairs=$lsh " +
      s"dhash_pairs=$mediaPairs dhash_bucket_max=${occupancy.get(0)} " +
      s"dhash_bucket_p99=${occupancy.get(1)}")
    spark.stop()
  }
}
