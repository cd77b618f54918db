package graft.tools

/** Measures how input-split sizing parallelizes the fixture scans: for a
  * given `spark.sql.files.openCostInBytes`, prints each table's scan task
  * count and times the q99-style fused catalog pass over lineitem.
  *
  * `runMain graft.tools.SplitProbe <sfDir> <openCostBytes>`
  */
object SplitProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val openCost = args.lift(1).getOrElse("4194304")
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus,
      "spark.sql.files.openCostInBytes" -> openCost)
    import org.apache.spark.sql.functions._
    graft.sources.Tables.all.foreach { t =>
      val df = graft.sources.Tables.load(spark, sfDir, t)
      val parts = df.rdd.getNumPartitions
      System.err.println(s"SPLITPROBE $t scan_partitions=$parts")
    }
    // warm page cache + codegen
    val li = graft.sources.Tables.load(spark, sfDir, "lineitem")
    li.agg(count(lit(1))).collect()
    def fusedPass(): Long = {
      val (tbl, shardKey, cols) = ExtensionQueries8LakeView.lineitemAudit
      val longF = graft.ExtensionQueries8.catalogLongForm(
        graft.sources.Tables.load(spark, sfDir, tbl),
        graft.ExtensionQueries8.lakeShard(shardKey),
        cols.map(graft.ExtensionQueries8.auditSpec))
      val fused = graft.ExtensionQueries8.fusedCatalogAgg(longF)
      fused.count()
    }
    fusedPass() // warm
    val t0 = System.nanoTime()
    val n = fusedPass()
    System.err.println(f"SPLITPROBE fused_lineitem openCost=$openCost rows=$n " +
      f"wall=${(System.nanoTime() - t0) / 1e9}%.2fs")
    spark.stop()
  }
}

/** The lineitem row of [[graft.ExtensionQueries8.LakeAudit]], looked up by
  * name so the probe cannot drift from the registered audit spec.
  */
private object ExtensionQueries8LakeView {
  def lineitemAudit: (String, String, Seq[graft.ExtensionQueries8.AuditCol]) =
    graft.ExtensionQueries8.LakeAudit.find(_._1 == "lineitem").get
}
