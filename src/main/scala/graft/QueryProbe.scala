package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool (not part of the library): decompose a registered query's
  * wall time into plan time (analyze + optimize + physical planning)
  * vs execution, and list per-job / per-stage wall+task times — the
  * no-UI stand-in for the Spark UI's stage table the optimization
  * guide (§1/§7) drives from.
  *
  * Usage: runMain graft.QueryProbe <queryName>[,<queryName>...] [reps]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 4).
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: runMain graft.QueryProbe <query>[,<query>...] [reps]")
      sys.exit(2)
    }
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-queryprobe")
    // JVM warmup (the Bench convention)
    SparkEntry.queries("q1_agg")(spark, sfDir).write
      .format("noop").mode("overwrite").save()

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobLines = scala.collection.mutable.ArrayBuffer.empty[String]
    val stageAgg = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.put(js.jobId, (System.nanoTime(),
          Option(js.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, desc) = jobs.getOrDefault(je.jobId, (0L, ""))
        if (t0 != 0L) jobLines.synchronized {
          jobLines += f"      job ${je.jobId}%3d  ${(System.nanoTime() - t0) / 1e9}%7.3f s  $desc"
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stageAgg.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
    }
    spark.sparkContext.addSparkListener(listener)

    for (name <- names; r <- 1 to reps) {
      jobLines.synchronized(jobLines.clear())
      stageAgg.set(0L)
      GraftSession.reset(spark)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      // force analysis+optimization+physical planning of the TERMINAL
      // plan before execution so plan time is visible separately (the
      // noop write re-plans its own command wrapper; this captures the
      // query side)
      df.queryExecution.executedPlan
      val tPlan = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val tEnd = System.nanoTime()
      println(f"$name%-28s rep$r  total ${(tEnd - t0) / 1e9}%7.3f s   " +
        f"plan ${(tPlan - t0) / 1e9}%6.3f s   exec ${(tEnd - tPlan) / 1e9}%7.3f s   " +
        f"taskTime ${stageAgg.get() / 1e3}%8.3f s   jobs ${jobLines.size}")
      if (sys.env.get("SPARK_GRAFT_PROBE_JOBS").contains("1"))
        jobLines.synchronized(jobLines.foreach(println))
    }
    spark.stop()
  }
}
