package graft.tools

import org.apache.spark.sql.functions._

/** Ad-hoc: measures s41's incremental graph maintenance against the
  * fixed-codebook rebuild across cell counts and delta sizes — the
  * DAMAGE-RADIUS law the registered fixture cannot show. The fixture
  * pins [[graft.ExtensionQueries.IvfCells]] = 8 and a 25% ingest delta,
  * so every cell is touched and `affected` = the whole corpus (the
  * priced worst case); at production geometry (cells ~ n/targetCell,
  * delta ≪ cells) the maintenance pass should shrink with the share of
  * CHANGED cells. This probe builds the prior index at a parameterized
  * (k, deltaMod), runs [[graft.ExtensionQueries10.maintainGraph]], and
  * reports touched/changed/affected counts, wall seconds for the
  * maintenance vs the fixed-codebook rebuild vs the full
  * retrain+rebuild, and an exact row-equality check with the rebuild
  * (the s41 contract re-proven at probe scale).
  *
  * `runMain graft.tools.MaintProbe <dir> <k> <deltaMod> [capR] [nprobe]`
  */
object MaintProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val k = args(1).toInt
    val deltaMod = args(2).toLong
    // fail fast (the ScaleUp.scaleAll guard style, r19 advice): deltaMod=1
    // empties the prior corpus (Kmeans.fit then dies obscurely on empty
    // seeds) and deltaMod=0 is a runtime modulo error
    require(deltaMod >= 2,
      s"deltaMod must be >= 2 (got $deltaMod): vec_id % deltaMod == 0 is " +
        "the delta, the rest the prior corpus")
    val capR = args.lift(3).map(_.toInt)
      .getOrElse(graft.ExtensionQueries3.GraphCapR)
    val nprobe = args.lift(4).map(_.toInt)
      .getOrElse(graft.ExtensionQueries.IvfProbe)
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)
    import graft.{ExtensionQueries, ExtensionQueries3, ExtensionQueries10}
    val e = ExtensionQueries.embeddingsD(spark, dir)
      .select(col("vec_id"), col("v")).persist()
    val n = e.count()
    val delta = e.filter(col("vec_id") % deltaMod === 0).persist()
    val nDelta = delta.count()
    val prior = e.filter(col("vec_id") % deltaMod =!= 0)
    // prior index, fully materialized so the timed pass pays no build
    val (cent, assigned) = graft.operators.Kmeans.fit(prior, k,
      ExtensionQueries.IvfIters)
    val posting = ExtensionQueries3.cappedPosting(assigned, cent,
      Some(capR)).persist()
    val probes = ExtensionQueries3.graphProbes(prior, cent, nprobe).persist()
    val edges = ExtensionQueries3.knnGraphEdges(probes, posting).persist()
    cent.count(); posting.count(); probes.count(); edges.count()

    // damage-radius accounting (same steps as maintainGraph, counted)
    val aD = graft.operators.Kmeans.assign(delta, cent)
      .select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("cell").as("cell_b")).persist()
    val touched = aD.select(col("cell_b")).distinct().count()
    val wCap = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell_b")).orderBy(col("bcos").desc, col("vec_b").asc)
    val changedCells = posting
      .join(broadcast(aD.select(col("cell_b")).distinct()), Seq("cell_b"),
        "left_semi")
      .unionByName(aD)
      .join(broadcast(cent.select(col("cell").as("cell_b"), col("cv"))),
        Seq("cell_b"))
      .withColumn("bcos",
        graft.operators.VectorOps.cosineFast(col("vb"), col("cv")))
      .withColumn("brn", row_number().over(wCap))
      .filter(col("brn") <= capR)
      .join(aD.select(col("vec_b")), Seq("vec_b"), "left_semi")
      .select(col("cell_b")).distinct().persist()
    val changed = changedCells.count()
    val affected = probes
      .join(broadcast(changedCells.select(col("cell_b").as("cell"))),
        Seq("cell"), "left_semi")
      .select(col("vec_a"))
      .unionByName(
        ExtensionQueries3.graphProbes(delta, cent, nprobe).select(col("vec_a")))
      .distinct().count()

    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = f
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    val maintained = ExtensionQueries10.maintainGraph(
      cent, posting, probes, edges, delta, nprobe, capR)
    val (maintSec, maintRows) = timed(maintained.count())
    // fixed-codebook rebuild (training reused — the oracle's shape)
    val member = assigned.unionByName(graft.operators.Kmeans.assign(delta, cent))
    val rebuilt = ExtensionQueries3.knnGraphEdges(
      ExtensionQueries3.graphProbes(e, cent, nprobe),
      ExtensionQueries3.cappedPosting(member, cent, Some(capR)))
    val (rebuildSec, _) = timed(rebuilt.count())
    // full retrain+rebuild (the nightly s31-style price, k as probed)
    val (trainSec, _) = timed {
      val (c2, a2) = graft.operators.Kmeans.fit(e, k,
        ExtensionQueries.IvfIters)
      ExtensionQueries3.knnGraphEdges(
        ExtensionQueries3.graphProbes(e, c2, nprobe),
        ExtensionQueries3.cappedPosting(a2, c2, Some(capR))).count()
    }
    val equal = maintained.exceptAll(rebuilt).count() == 0 &&
      rebuilt.exceptAll(maintained).count() == 0
    // the scale-invariant WORK term: candidate rows each approach scores
    // (wall at small n is Spark job-scheduling, not data — these counts
    // are what actually grow with the corpus)
    val idx = ExtensionQueries10.maintainPosting(cent, posting, delta, capR)
    val probesD = ExtensionQueries3.graphProbes(delta, cent, nprobe)
    val affectedIds = probes
      .join(broadcast(idx.changed.select(col("cell_b").as("cell"))),
        Seq("cell"), "left_semi").select(col("vec_a"))
      .unionByName(probesD.select(col("vec_a"))).distinct()
    val candMaint = probes.unionByName(probesD)
      .join(affectedIds, Seq("vec_a"), "left_semi")
      .join(idx.capAfter.select(col("cell_b").as("cell")), Seq("cell"))
      .count()
    val candRebuild = ExtensionQueries3.graphProbes(e, cent, nprobe)
      .join(ExtensionQueries3.cappedPosting(member, cent, Some(capR))
        .select(col("cell_b").as("cell")), Seq("cell"))
      .count()
    println(f"MAINTPROBE dir=$dir n=$n k=$k deltaMod=$deltaMod " +
      f"delta=$nDelta capR=$capR nprobe=$nprobe touched=$touched " +
      f"changed=$changed affected=$affected " +
      f"affectedFrac=${affected.toDouble / n}%.3f rows=$maintRows " +
      f"candMaint=$candMaint candRebuild=$candRebuild " +
      f"maintSec=$maintSec%.2f rebuildSec=$rebuildSec%.2f " +
      f"trainRebuildSec=$trainSec%.2f equal=$equal")
    spark.stop()
  }
}
