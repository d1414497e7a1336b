package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.concurrent.TrieMap

/** Cold-cost job/stage profiler for a single SparkEntry query: runs the
  * query exactly as Bench does (same session, same warm-up, noop sink,
  * everything released after each run), with a listener printing
  * per-job and per-stage wall time so a slow query can be attributed to
  * a concrete exchange/aggregate instead of guessed at.
  * Usage: tools/run.sh graft.ProfileJobs <queryName> [sfDir]
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("p02_dedup_minhash")
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Harness.session("graft-profile-jobs")
    Harness.warmUp(spark, dir)

    val jobStart = TrieMap.empty[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobStart(js.jobId) = (System.nanoTime(), desc.take(80))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobStart.get(je.jobId).foreach { case (t0, desc) =>
          println(f"  job ${je.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.2f s  $desc")
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for { a <- si.completionTime; b <- si.submissionTime } yield a - b).getOrElse(-1L)
        val tm = si.taskMetrics
        val cpuS = if (tm == null) -1.0 else tm.executorCpuTime / 1e9
        val runS = if (tm == null) -1.0 else tm.executorRunTime / 1e3
        if (ms > 300 || cpuS > 0.3) {
          println(f"    stage ${si.stageId}%3d ${ms / 1e3}%7.2f s  cpu=$cpuS%7.2f s  run=$runS%7.2f s  tasks=${si.numTasks}  ${si.name.take(60)}")
          si.rddInfos.sortBy(_.id).foreach(r =>
            println(s"      rdd ${r.id} ${r.name.replaceAll("\\s+", " ").take(100)}"))
        }
      }
    })

    val q = SparkEntry.queries(name)
    for (run <- 1 to 2) {
      println(s"=== $name run $run")
      val t0 = System.nanoTime()
      try {
        q(spark, dir).write.format("noop").mode("overwrite").save()
        println(f"  TOTAL ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      } finally Harness.release(spark)
    }
    spark.stop()
  }
}
