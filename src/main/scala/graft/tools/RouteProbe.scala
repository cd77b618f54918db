package graft.tools

import org.apache.spark.sql.functions._

/** Ad-hoc: measures s47's two-level routed assignment against the flat
  * argmax at parameterized geometry — the candidate-count law the
  * registered fixture can only show at small k. The fine codebook is
  * trained and MATERIALIZED untimed (both paths read the same stored
  * codebook in a deployment); the timed passes are the two assignment
  * strategies over the full corpus: flat (n·k cosines, the nightly
  * build's cost at corpus-scaled k) vs routed (coarse training over k
  * rows + n·(m + SuperProbe·k/m) expected cosines). Reports wall seconds,
  * agreement with the exact argmax, and the per-vector candidate counts.
  *
  * `runMain graft.tools.RouteProbe <dir> [k] [m]` — k defaults to
  * ivfCellsFor(n), m to superCellsFor(k).
  */
object RouteProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)
    import graft.{ExtensionQueries, ExtensionQueries11}
    val e = ExtensionQueries.embeddingsD(spark, dir)
      .select(col("vec_id"), col("v")).persist()
    val n = e.count()
    val k = args.lift(1).map(_.toInt)
      .getOrElse(ExtensionQueries11.ivfCellsFor(n))
    val m = args.lift(2).map(_.toInt)
      .getOrElse(ExtensionQueries11.superCellsFor(k))
    require(k >= 2 && m >= 2, s"need k >= 2 and m >= 2 (got k=$k, m=$m)")
    // fine codebook: stored-artifact stand-in, materialized untimed
    val (cent, _) = graft.operators.Kmeans.fit(e, k,
      ExtensionQueries.IvfIters)
    cent.persist().count()
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val flat = graft.operators.Kmeans.assign(e, cent)
      .select(col("vec_id").as("vec_a"), col("cell").as("flat_cell"))
      .persist()
    val (nFlat, tFlat) = timed(flat.count())
    val routed = ExtensionQueries11.routedAssign(e, cent, m).persist()
    val (nRouted, tRouted) = timed(routed.count())
    val joined = flat.join(routed, Seq("vec_a"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("routed_cell") === col("flat_cell"), 1L).otherwise(0L))
          .as("agree"),
        sum(col("n_cand")).as("cand_rows"))
      .collect().head
    val agree = joined.getAs[Long]("agree")
    val candRows = joined.getAs[Long]("cand_rows")
    println(f"RouteProbe dir=$dir n=$n k=$k m=$m " +
      f"flat_sec=$tFlat%.2f routed_sec=$tRouted%.2f " +
      f"agree=$agree/$nFlat (${agree * 100.0 / nFlat}%.2f%%) " +
      f"cand_per_vec_flat=$k cand_per_vec_routed=${m + candRows.toDouble / n}%.1f " +
      f"(${k / (m + candRows.toDouble / n)}%.1fx fewer)")
    spark.stop()
  }
}
