package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage time attribution for catalog queries (optimization
  * rounds, guide §1/§7): runs the selected queries after Bench's
  * session bootstrap and warm-up ([[graft.EntryPoint]]) with a stage
  * listener and prints every completed stage's wall time, task count,
  * and shuffle/input volumes, so "where do the seconds go" is a read
  * instead of a guess. Each rep's summary line also counts the jobs
  * the row submitted (`jobs=`), eager work while building the frame
  * included.
  *
  * `runMain graft.tools.StageProfile <q1,q2,...> [sfDir] [reps]` —
  * names select as `SPARK_GRAFT_ONLY` does ([[graft.EntryPoint.select]]).
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val spec = args.headOption.getOrElse("q1_agg")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val names = graft.EntryPoint.selectQueries(Some(spec))
    if (names.isEmpty) return
    val spark = graft.EntryPoint.session()
    graft.EntryPoint.warmUp(spark, sfDir, names)
    val all = graft.SparkEntry.queries

    final case class St(id: Int, nm: String, ms: Long, tasks: Int,
        inMb: Double, srMb: Double, swMb: Double, cpuMs: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    // stage → the submitting JOB's callsite (the action frame inside
    // the operator, e.g. "localCheckpoint at Similarity.scala:209") —
    // SQL stages' own details only show the execution thread pool
    val stageSite =
      new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val site = callSite(e)
        jobs.incrementAndGet()
        e.stageIds.foreach(sid => stageSite.put(sid, site))
      }
      override def onStageCompleted(
          e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        val where = Option(stageSite.get(si.stageId))
          .filter(_.nonEmpty)
          .getOrElse(si.name.takeWhile(_ != '\n'))
        stages.add(St(si.stageId, where, ms,
          si.numTasks,
          m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.executorCpuTime / 1000000))
      }
    }

    names.foreach { name =>
      val fn = all(name)
      (1 to reps).foreach { r =>
        stages.clear()
        jobs.set(0)
        spark.sparkContext.addSparkListener(listener)
        spark.sparkContext.setJobDescription(s"$name rep$r")
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        settle(() => stages.size())
        spark.sparkContext.removeSparkListener(listener)
        import scala.jdk.CollectionConverters._
        val ss = stages.asScala.toSeq.sortBy(-_.ms)
        val sumMs = ss.map(_.ms).sum
        println(f"%n[stageprofile] $name rep$r wall=$dt%.3f s  " +
          f"stage-sum=${sumMs / 1000.0}%.3f s  stages=${ss.size}  jobs=${jobs.get}")
        if (r == reps) ss.take(22).foreach { s =>
          println(f"  stage ${s.id}%4d ${s.ms}%6d ms cpu=${s.cpuMs}%6d ms " +
            f"tasks=${s.tasks}%3d in=${s.inMb}%8.2f MB sr=${s.srMb}%8.2f " +
            f"sw=${s.swMb}%8.2f  ${s.nm.take(90)}")
        }
      }
    }
    spark.stop()
  }
}
