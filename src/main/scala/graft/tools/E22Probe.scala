package graft.tools

import org.apache.spark.sql.functions._

/** Ad-hoc: grades e22's GENERAL all-windows exposure form — sessions
  * overlap-joined against EVERY error window, no top-N incident cut —
  * across fixtures, to close the carried fixture-blocked item: on the
  * standard ScaleUp output the 30-day span is fixed, so 10× events means
  * 10× interval DENSITY and ~100×/decade pair growth (which no real
  * corpus does, and why the registered e22 row uses the top-N incident
  * definition); on a span-proportional fixture (ScaleUp's shiftDays arg:
  * copies tile the time axis edge to edge at constant density) the same
  * operator's pair count and wall grow ~linearly — the honest scale law
  * of the bucket-decomposed interval join itself.
  *
  * `runMain graft.tools.E22Probe <sfDir> [<sfDir> ...]` — per fixture:
  * events, error windows, output rows, and two timed passes (quote min2).
  */
object E22Probe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)
    args.foreach { dir =>
      val W = graft.ExtensionQueries9.IncidentWinMicros
      def build() = {
        val ev = graft.sources.Tables.load(spark, dir, "events")
        val wins = ev.filter(col("event_type") === "error")
          .select(expr(s"unix_micros(ts) div $W").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n_errors"))
          .select((col("bucket") * W).as("w_start"),
            (col("bucket") * W + lit(W - 1)).as("w_end"),
            col("n_errors"))
        val sess = graft.streaming.EventStreams
          .sessionWindowed(ev, graft.ExtensionQueries5.SessionGapSec)
          .select(col("user_id"),
            unix_micros(col("session_start")).as("s_start"),
            unix_micros(col("session_end")).as("s_end"))
        graft.operators.JoinOps.intervalOverlapJoin(sess, wins,
            "s_start", "s_end", "w_start", "w_end", W)
          .groupBy(col("user_id"), col("s_start"))
          .agg(count(lit(1)).as("n_windows"),
            sum(col("n_errors")).as("n_errors"))
      }
      val ev = graft.sources.Tables.load(spark, dir, "events")
      val nEv = ev.count()
      val nWin = ev.filter(col("event_type") === "error")
        .select(expr(s"unix_micros(ts) div $W")).distinct().count()
      // the density-driven number: RAW overlap pairs (the join output
      // the aggregate consumes) — sessions bound the aggregate, pairs
      // do not
      val rawPairs = {
        val wins = ev.filter(col("event_type") === "error")
          .select(expr(s"unix_micros(ts) div $W").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n_errors"))
          .select((col("bucket") * W).as("w_start"),
            (col("bucket") * W + lit(W - 1)).as("w_end"))
        val sess = graft.streaming.EventStreams
          .sessionWindowed(ev, graft.ExtensionQueries5.SessionGapSec)
          .select(unix_micros(col("session_start")).as("s_start"),
            unix_micros(col("session_end")).as("s_end"))
        graft.operators.JoinOps.intervalOverlapJoin(sess, wins,
          "s_start", "s_end", "w_start", "w_end", W).count()
      }
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val n = build().count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      println(f"E22PROBE dir=$dir events=$nEv error_windows=$nWin " +
        f"overlap_pairs=$rawPairs exposure_rows=${times.head._1} " +
        f"sec=${times.map(_._2).map(t => f"$t%.2f").mkString("/")} " +
        f"min2=${times.map(_._2).min}%.2f")
    }
    spark.stop()
  }
}
