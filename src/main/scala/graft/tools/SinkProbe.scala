package graft.tools

/** Ad-hoc A/B for the summary sink's file layout: the sorted flagship
  * written (a) as-is — does AQE's partition coalescing already pack the
  * sort's range exchange? — (b) through hint("rebalance"), (c) through
  * hint("rebalance", ZIP_CODE). Prints file count, total bytes, and
  * whether ZIP ranges overlap across files (the clustering a
  * ZIP-predicate read-back prunes on). `runMain graft.tools.SinkProbe
  * [sfDir]`
  */
object SinkProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)
    import org.apache.spark.sql.functions._

    val summary = graft.pipeline.LocationSummary.build(spark, sfDir).persist()
    summary.count()

    def probe(tag: String, f: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Unit = {
      val out = graft.sources.Scratch.fresh(spark, s"sink_probe_$tag")
      val t0 = System.nanoTime()
      f(summary).write.mode("append").parquet(out)
      val secs = (System.nanoTime() - t0) / 1e9
      val files = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      // per-file ZIP ranges: overlapping ranges = lost clustering
      val ranges = files.map { fl =>
        val d = spark.read.parquet(fl.getAbsolutePath)
          .agg(min("ZIP_CODE"), max("ZIP_CODE")).head()
        (d.getString(0), d.getString(1))
      }.sortBy(_._1)
      val overlaps = ranges.sliding(2).count {
        case Array((_, hi), (lo2, _)) => hi > lo2
        case _ => false
      }
      println(f"$tag%-18s files=${files.length}%3d " +
        f"bytes=${files.map(_.length).sum}%9d $secs%.2f s " +
        f"overlapping_ranges=$overlaps")
    }
    probe("plain_sorted", df => df)
    probe("rebalance", df => df.hint("rebalance"))
    probe("rebalance_zip", df => df.hint("rebalance", col("ZIP_CODE")))
    spark.stop()
  }
}
