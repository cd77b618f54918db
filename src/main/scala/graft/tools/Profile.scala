package graft.tools

/** Ad-hoc single-query profiler: times the build (eager checkpoints land
  * here) and the count action separately, for the queries named in args.
  * `runMain graft.tools.Profile <sfDir> <query...>`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("d07_dedup_clusters")
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)
    try graft.SparkEntry.queries("q01_dim_decode_join")(spark, sfDir).count()
    catch { case _: Throwable => () }
    names.foreach { name =>
      val buildJobs = new java.util.concurrent.atomic.AtomicInteger()
      val buildListener = new org.apache.spark.scheduler.SparkListener {
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          buildJobs.incrementAndGet(); ()
        }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = for { s <- si.submissionTime; c <- si.completionTime } yield c - s
          if (wall.exists(_ > 300))
            System.err.println(s"BUILD_STAGE ${si.stageId} tasks=${si.numTasks} " +
              s"wall=${wall.getOrElse(-1L)}ms run=${si.taskMetrics.executorRunTime}ms")
        }
      }
      spark.sparkContext.addSparkListener(buildListener)
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      Thread.sleep(200)
      spark.sparkContext.removeSparkListener(buildListener)
      System.err.println(s"BUILD_JOBS $name ${buildJobs.get()}")
      df.queryExecution.optimizedPlan // forces analysis + cache lookup + optimize
      val t2 = System.nanoTime()
      df.queryExecution.executedPlan // physical planning
      val t3 = System.nanoTime()
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val stages = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.put(js.jobId, js.time)
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          jobs.computeIfPresent(je.jobId, (_, st) => je.time - st)
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = for {
            s <- si.submissionTime; c <- si.completionTime
          } yield c - s
          stages.put(si.stageId,
            s"stage${si.stageId}[${si.name.takeWhile(_ != ' ')}] tasks=${si.numTasks} wall=${wall.getOrElse(-1L)}ms run=${si.taskMetrics.executorRunTime}ms deser=${si.taskMetrics.executorDeserializeTime}ms")
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val n = df.count()
      val t4 = System.nanoTime()
      Thread.sleep(300) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val jsum = jobs.asScala.toVector.sortBy(_._1)
        .map { case (id, ms) => s"j$id=${ms}ms" }.mkString(" ")
      println(f"PROFILE $name build=${(t1 - t0) / 1e9}%.2fs optimize=${(t2 - t1) / 1e9}%.2fs plan=${(t3 - t2) / 1e9}%.2fs exec=${(t4 - t3) / 1e9}%.2fs rows=$n jobs[$jsum]")
      stages.asScala.toVector.sortBy(_._1).foreach(s => println("  " + s._2))
    }
    spark.stop()
  }
}
