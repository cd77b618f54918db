package graft.tools

import org.apache.spark.sql.functions._

/** Ad-hoc: attribute t12's sf1 cost — Space-Saving fold wall time at
  * eviction-regime vs exact-regime capacity over the same bigram stream.
  * `runMain graft.tools.SsProbe [sfDir]`
  */
object SsProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1_r15")
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)
    import spark.implicits._
    val toks = col("__toks")
    val pairs = when(size(toks) >= 2,
      arrays_zip(slice(toks, lit(1), size(toks) - 1).as("w1"),
        slice(toks, lit(2), size(toks) - 1).as("w2")))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val perDoc = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(graft.operators.TextOps.tokens(col("text")).as("__toks"))
      .select(transform(pairs,
        p => concat_ws(" ", p.getField("w1"), p.getField("w2"))).as("bgs"))
      .as[Seq[String]].localCheckpoint()
    val distinctBg = perDoc.select(explode(col("bgs"))).distinct().count()
    def time(cap: Int): Double = {
      val t0 = System.nanoTime()
      perDoc.select(graft.operators.HeavyHitters.spaceSaving(cap).toColumn)
        .toDF("ss").select(explode(col("ss"))).count()
      (System.nanoTime() - t0) / 1e9
    }
    val warm = time(1024)
    println(f"SSPROBE sf=$sfDir distinct_bigrams=$distinctBg " +
      f"cap1024=${time(1024)}%.2fs capHuge=${time(1 << 20)}%.2fs " +
      f"(warmup $warm%.2fs)")
    spark.stop()
  }
}
