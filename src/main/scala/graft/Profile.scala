package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round measurement harness (guide §1): run named queries
  * once each under a stage-metrics listener and print, per query, the
  * wall time plus every stage's duration / task count / shuffle and
  * spill bytes — the attribution the bench's single number can't give.
  * Also dumps `.explain("formatted")` to plans/<tag>/<query>_<suffix>.txt
  * when SPARK_GRAFT_PLANDIR is set. The arguments select queries by
  * [[Driver.select]]'s rule (exact name, else prefix); none selects
  * every query, which with SPARK_GRAFT_PLANDIR dumps the whole
  * inventory's plans.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... \
  *     sbt "runMain graft.Profile q207_host_quota q133_corpus_pipeline_clean"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val planDir = sys.env.get("SPARK_GRAFT_PLANDIR")
    val planSuffix = sys.env.getOrElse("SPARK_GRAFT_PLANSUFFIX", "before")
    val queries = SparkEntry.queries
    val names = Driver.select(queries.keys.toSeq.sorted, args.toSeq)
    val spark = Driver.session(Driver.layoutBytes(sfDir))
    // SPARK_GRAFT_STAGEMODE=persist dumps plans with staging boundaries
    // left visible (Staged.stageCut's plan-inspection mode)
    sys.env.get("SPARK_GRAFT_STAGEMODE")
      .foreach(m => spark.conf.set("spark.graft.stageCutMode", m))

    Driver.warmUp(spark, sfDir)

    @volatile var collect = false
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (collect) {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.add(f"  job ${js.jobId}%4d stages=${js.stageIds.size}%3d  $desc")
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = if (collect) {
        val si = sc.stageInfo
        val tm = si.taskMetrics
        val dur = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L)
        stages.add(
          f"  stage ${si.stageId}%4d ${dur / 1000.0}%8.3fs tasks=${si.numTasks}%4d " +
          f"in=${tm.inputMetrics.bytesRead / 1e6}%9.1fMB " +
          f"sR=${tm.shuffleReadMetrics.totalBytesRead / 1e6}%9.1fMB " +
          f"sW=${tm.shuffleWriteMetrics.bytesWritten / 1e6}%9.1fMB " +
          f"spill=${tm.diskBytesSpilled / 1e6}%8.1fMB " +
          f"exeCpu=${tm.executorCpuTime / 1e9}%8.2fs " +
          f"exeRun=${tm.executorRunTime / 1e3}%8.2fs  ${si.name.takeWhile(_ != '\n').take(80)}")
      }
    })

    names.foreach { name =>
      stages.clear(); jobs.clear()
      collect = true
      val t0 = System.nanoTime()
      Driver.run(spark, sfDir, queries(name)) { df =>
        planDir.foreach { pd =>
          new java.io.File(pd).mkdirs()
          val w = new java.io.PrintWriter(s"$pd/${name}_$planSuffix.txt")
          try w.println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          finally w.close()
        }
        df.count()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      collect = false
      println(f"== $name  wall=$wall%.3fs  jobs=${jobs.size}  stages=${stages.size}")
      jobs.forEach(j => println(j))
      val arr = new java.util.ArrayList[String](stages)
      arr.sort(java.util.Comparator.naturalOrder())
      arr.forEach(s => println(s))
    }
    spark.stop()
  }
}
