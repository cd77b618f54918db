package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.DocStreams

/** Ad-hoc: the ingest-time near-dup screen's STREAMING throughput at
  * fixture scale — the number StreamingSpec's 6-doc semantics fixture
  * cannot give. Feeds the real documents table through
  * [[DocStreams.nearDupStream]] in `nBatches` arrival-ordered
  * micro-batches over the RocksDB state store and reports per-batch wall
  * time, cumulative hits, and docs/sec. (The driver-side collect of the
  * corpus is probe harness wiring — MemoryStream is fed from the driver
  * by design; the screen under test never collects.)
  * `runMain graft.tools.ScreenProbe [sfDir] [nBatches]`
  */
object ScreenProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .as[(Long, String)].collect()
      .map { case (id, text) => DocStreams.Doc(id, new Timestamp(id * 1000L), text) }
    val slice = math.max(1, (docs.length + nBatches - 1) / nBatches)

    val stream = MemoryStream[DocStreams.Doc]
    val q = DocStreams.nearDupStream(stream.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("screen_probe").start()
    val t0 = System.nanoTime()
    docs.grouped(slice).zipWithIndex.foreach { case (batch, i) =>
      val b0 = System.nanoTime()
      stream.addData(batch: _*)
      q.processAllAvailable()
      val secs = (System.nanoTime() - b0) / 1e9
      println(f"[screen] batch $i%d: ${batch.length}%d docs in $secs%.2f s " +
        f"(${batch.length / secs}%.0f docs/s)")
    }
    val total = (System.nanoTime() - t0) / 1e9
    q.stop()
    val hits = spark.table("screen_probe").count()
    println(f"[screen] total: ${docs.length}%d docs, $hits%d hits in " +
      f"$total%.2f s = ${docs.length / total}%.0f docs/s end-to-end")
    spark.stop()
  }
}
