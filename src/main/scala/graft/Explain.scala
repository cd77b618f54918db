package graft

/** Plan-inspection harness: `runMain graft.Explain <query> [sfDir]` prints
  * the formatted physical plan and a warmed timing for one registered query
  * (no args: lists query names). The perf loop is: run this, read the plan,
  * check PushedFilters/ReadSchema/broadcasts/shuffle count, iterate.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local(GraftSession.envCpus)
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).count() // warm: JIT + codegen + file index
    val t0 = System.nanoTime()
    val n = fn(spark, sfDir).count()
    println(f"$name: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s (warmed)")
    fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
