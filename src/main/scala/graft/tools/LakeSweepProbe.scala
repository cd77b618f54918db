package graft.tools

import org.apache.spark.sql.functions._

/** Measurement-only probe for the q99 lake-sweep cost model (guide §1):
  * times each building block of the per-table ANALYZE pass in isolation
  * (noop sink, labeled jobs) so the expensive term is identified by
  * measurement instead of guessed. Not on any driver path.
  *
  * `runMain graft.tools.LakeSweepProbe <sfDir> [table]`
  */
object LakeSweepProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val tbl = if (args.length > 1) args(1) else "lineitem"
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)

    import graft.ExtensionQueries8.{LakeAudit, auditSpec, catalogLongForm,
      fusedCatalogAgg, lakeShard}
    val rows = graft.sources.Tables.load(spark, sfDir, tbl)
    val (_, shardKey, cols) = LakeAudit.find(_._1 == tbl).getOrElse(
      sys.error(s"table $tbl not in LakeAudit"))
    val specs = cols.map(auditSpec)

    def timed(tag: String)(f: => Unit): Unit = {
      spark.sparkContext.setJobDescription(tag)
      // warm once, then two timed reps; report the min
      f
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"PROBE $tag%-28s ${ts.min}%8.3f s")
      spark.sparkContext.setJobDescription(null)
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val longF = catalogLongForm(rows, lakeShard(shardKey), specs)

    timed("scan-only")(noop(rows))
    timed("long-form (explode+casts)")(noop(longF))
    timed("long-form + md5")(noop(longF.withColumn("h",
      when(col("cval").isNotNull, graft.ExtensionQueries3.md5Hash48(col("cval")))
        .otherwise(lit(-1L)))))
    timed("fused agg (udaf)")(noop(fusedCatalogAgg(longF)))
    timed("fused agg, pre-sharded")(noop(fusedCatalogAgg(
      longF.repartition(graft.ExtensionQueries7.SketchShards, col("shard")))))

    spark.stop()
  }
}
