package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ad-hoc A/B: the split LSH verify (lshCandidatePairs → jaccardOnPairs)
  * vs the fused pass (lshVerifiedPairs) on the SAME session and box —
  * same-run numbers, not cross-round driver samples. Also prints the
  * collision-row count vs the distinct-pair count (the fused form's
  * duplicate-compute factor) per geometry. `runMain graft.tools.FuseProbe
  * [sfDir] [reps]`
  */
object FuseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)

    def time(label: String)(df: => DataFrame): Unit = {
      val warms = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        val n = df.count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      println(f"$label%-28s rows=${warms.head._1}%9d  " +
        warms.map(w => f"${w._2}%.2f").mkString("s: ", " ", ""))
    }

    // d04 geometry: word shingles, bands=4 rows=3
    val word = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").as("id"),
        graft.functions.TextHash.shingleHashes(col("text"), 2).as("features"))
      .persist()
    word.count()
    // d09 geometry: char 5-grams, bands=2 rows=6
    val char5 = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").as("id"),
        graft.functions.TextHash.charNgramHashes(col("text"), 5).as("features"))
      .persist()
    char5.count()

    def collisions(feats: DataFrame, bands: Int, rows: Int): Unit = {
      val banded = graft.operators.Dedup.bandFingerprints(feats, bands, rows)
      val a = banded.select(col("id").as("doc_a"), col("band_idx"), col("bh"))
      val b = banded.select(col("id").as("doc_b"),
        col("band_idx").as("band_idx_b"), col("bh").as("bh_b"))
      val coll = a.join(b, col("band_idx") === col("band_idx_b") &&
        col("bh") === col("bh_b") && col("doc_a") < col("doc_b")).count()
      val pairs = graft.operators.Dedup
        .lshCandidatePairs(feats, bands, rows).count()
      println(f"collisions($bands,$rows): $coll%d over $pairs%d pairs " +
        f"(dup-compute factor ${coll.toDouble / pairs}%.2f)")
    }
    collisions(word, 4, 3)
    collisions(char5, 2, 6)

    time("d04 split (word,4x3)") {
      graft.operators.Dedup.jaccardOnPairs(
        graft.operators.Dedup.lshCandidatePairs(word, 4, 3), word)
    }
    time("d04 fused (word,4x3)") {
      graft.operators.Dedup.lshVerifiedPairs(word, 4, 3)
    }
    time("d09 split (char5,2x6)") {
      graft.operators.Dedup.jaccardOnPairs(
        graft.operators.Dedup.lshCandidatePairs(char5, 2, 6), char5)
    }
    time("d09 fused (char5,2x6)") {
      graft.operators.Dedup.lshVerifiedPairs(char5, 2, 6)
    }
    spark.stop()
  }
}
