package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Optimization-round plan dumper + per-query timer.
  *
  * `runMain graft.tools.PlanDump <suffix> <q1,q2,...> [sfDir] [outDir]`
  *
  * For each selected catalog query (names select as `SPARK_GRAFT_ONLY`
  * does, [[graft.EntryPoint.select]]): writes `.explain("formatted")`
  * to `<outDir>/<name>_<suffix>.txt` (the plan evidence) under a
  * `== Build jobs: <n> ==` header that lists the call site of each job
  * the row ran while building its frame, and times the noop-sink
  * evaluation (`reps` timed, min reported). The summary line also
  * counts the jobs of one untimed execution of the frame whose build
  * jobs the header lists (`exec_jobs=`). The timed passes run after
  * that execution, one warm-up more than the mins recorded in
  * OPTIMIZATION_r19/r20 had, so compare a min only with mins taken
  * the same way.
  * Session bootstrap and warm-up are Bench's own
  * ([[graft.EntryPoint]]), so the numbers are comparable to the bench
  * floors.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val spec = args.lift(1).getOrElse("q1_agg")
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(3).getOrElse("plans/r19")
    val resolved = graft.EntryPoint.selectQueries(Some(spec))
    val spark = graft.EntryPoint.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // without the warm-up a query's position in the list changes its
    // number by 20-40% (measured, optimization round 19)
    graft.EntryPoint.warmUp(spark, sfDir, resolved)
    val all = graft.SparkEntry.queries

    // The call site of every job submitted while the frame is built:
    // eager work inside an operator (a localCheckpoint, a training
    // collect, an index write) that the plan shows only as a scan of
    // its result. Without the callSite.short property, the result
    // stage's name carries the same call site.
    val buildJobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = callSite(e)
        buildJobs.add(
          if (site.nonEmpty) site else e.stageInfos.maxBy(_.stageId).name)
      }
    }

    val reps = 4
    resolved.foreach { name =>
      val fn = all(name)
      spark.sparkContext.setJobDescription(name)
      try {
        buildJobs.clear()
        spark.sparkContext.addSparkListener(jobListener)
        val df = try fn(spark, sfDir) finally {
          settle(() => buildJobs.size())
          spark.sparkContext.removeSparkListener(jobListener)
        }
        import scala.jdk.CollectionConverters._
        // sorted by call site: jobs that run concurrently (`Par`) get
        // job ids in any order, and the header must not differ by it
        val jobs = buildJobs.asScala.toSeq.sorted
        val header = (s"== Build jobs: ${jobs.size} ==" +: jobs)
          .mkString("", "\n", "\n\n")
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          header + plan)
        buildJobs.clear()
        spark.sparkContext.addSparkListener(jobListener)
        try df.write.format("noop").mode("overwrite").save() finally {
          settle(() => buildJobs.size())
          spark.sparkContext.removeSparkListener(jobListener)
        }
        val execJobs = buildJobs.size()
        spark.catalog.clearCache()
        // timed passes: rebuild the frame each time (same as Bench)
        val ts = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          dt
        }
        val all3 = ts.map(t => f"$t%.3f").mkString(" ")
        println(f"[plandump] $name%-34s min=${ts.min}%7.3f s  reps=[$all3]  " +
          s"build_jobs=${jobs.size} exec_jobs=$execJobs  " +
          s"plan=$outDir/${name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally {
        try spark.catalog.clearCache() catch { case _: Throwable => () }
      }
    }
    spark.stop()
  }
}
