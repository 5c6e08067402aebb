package graft.tools

/** Optimization-round plan dumper + per-query timer.
  *
  * `runMain graft.tools.PlanDump <suffix> <q1,q2,...> [sfDir] [outDir]`
  *
  * For each selected catalog query (names select as `SPARK_GRAFT_ONLY`
  * does, [[graft.EntryPoint.select]]): writes `.explain("formatted")`
  * to `<outDir>/<name>_<suffix>.txt` (the judge-facing plan evidence)
  * and times the noop-sink evaluation (`reps` timed, min reported).
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

    val reps = 4
    resolved.foreach { name =>
      val fn = all(name)
      spark.sparkContext.setJobDescription(name)
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
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
        println(f"[plandump] $name%-34s min=${ts.min}%7.3f s  reps=[$all3]  plan=$outDir/${name}_$suffix.txt")
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
