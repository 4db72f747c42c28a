package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool: per-JOB wall-clock attribution inside a single registered
  * query — the local stand-in for the Spark UI's Jobs page (guide §1.1/
  * §7.1; the bench host runs with the UI off). Runs the named queries
  * like Bench (GraftSession, noop sink) and prints one line per
  * Spark job: duration, stage task counts, and the callsite, so a 3 s
  * query can be split into "staging write / drain batch / census join"
  * instead of guessed at.
  *
  *   SPARK_GRAFT_ONLY=t22_postings_retention dev/run_main.sh graft.Profile
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = GraftSession.selected()
    val spark = GraftSession.build()
    GraftSession.warm(spark, sfDir)
    @volatile var jobStart = Map.empty[Int, (Long, String)]
    val taskCounts = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // attribute the job by its result stage's callsite (the "X at
        // file:line" the UI shows) plus its stage/task shape
        val site = js.stageInfos.lastOption.map(_.name).getOrElse("?")
        val shape = js.stageInfos.map(_.numTasks).mkString("+")
        jobStart += js.jobId -> (System.nanoTime(), s"[$shape tasks] $site")
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        taskCounts.merge(si.stageId, (si.numTasks, si.taskMetrics.executorRunTime),
          (a, b) => (a._1 + b._1, a._2 + b._2))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        jobStart.get(je.jobId).foreach { case (t0, site) =>
          val dt = (System.nanoTime() - t0) / 1e9
          if (dt > 0.005)
            System.err.println(f"[prof-job] ${je.jobId}%4d ${dt}%8.3fs  $site")
        }
      }
    })
    val repeat = math.max(1,
      sys.env.get("SPARK_GRAFT_REPEAT").flatMap(_.toIntOption).getOrElse(1))
    queries.foreach { case (name, fn) =>
      (1 to repeat).foreach { i =>
        System.err.println(s"[prof-query] $name run $i")
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        System.err.println(f"[prof-total] $name run $i ${(System.nanoTime() - t0) / 1e9}%.3fs")
        GraftSession.reset(spark)
      }
    }
    spark.stop()
  }
}
