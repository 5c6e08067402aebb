package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in this JVM, driven by
  * perfbench/run.py, which generates the inputs, checks the outputs and
  * computes the metrics from the record this writes.
  *
  * Arguments are `key=value`: workload, ops (comma-separated, in the
  * seeded order), cores, passes, trace (0|1), work (scratch directory),
  * data (parquet tables), csv_dir and rows_per_op (ETL).
  *
  * Sequence: three set-ups (the first from JVM start, then two session
  * restarts, each ending with one fixed catalog query), one untimed
  * warm-up pass over the operations (so that JIT-compiled code, generated
  * code and Spark's caches are in place before timing), `passes` timed
  * passes by one closed-loop client, untimed checks, and in a traced run
  * one extra pass on one core.
  */
object Main {
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cores = opt("cores").toInt
    val work = opt("work")
    val trace = opt("trace") == "1"
    val ops = opt("ops").split(",").toSeq
    val workload: Workload = opt("workload") match {
      case "etl_batch" =>
        new EtlWorkload(ops, opt("csv_dir"), work, opt("rows_per_op").toLong)
      case _ => new CatalogWorkload(ops, opt("data"), s"$work/dump")
    }

    // set-up: a session plus one fixed query on the catalog tables
    def warmUp(spark: SparkSession): Unit =
      graft.SparkEntry.queries("q1_agg")(spark, opt("data")).collect()
    val before = Health.sample()
    var spark = session(cores, work)
    warmUp(spark)
    val setups = ArrayBuffer(ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
    for (_ <- 1 until 3) {
      val t0 = System.nanoTime()
      spark.stop()
      spark = session(cores, work)
      warmUp(spark)
      setups += secs(t0)
    }

    def runOp(i: Int, pass: Int, spans: Spans): Json.Raw = {
      val t0 = System.nanoTime()
      val outcome = try Right(spans.span("op")(workload.run(spark, i, spans)))
        catch { case e: Throwable => Left(e) }
      val dt = secs(t0)
      val ok = outcome.fold(_ => false, o => o.check())
      spark.catalog.clearCache()
      Json.Raw(Json.obj("op" -> ops(i), "pass" -> pass, "seconds" -> dt,
        "rows" -> outcome.fold(_ => 0L, _.rows), "ok" -> ok,
        "error" -> outcome.left.toOption.map(e => String.valueOf(e.getMessage).take(300))))
    }

    val warmUpSamples = ops.indices.map(runOp(_, -1, NoTrace))
    val heapMb = ArrayBuffer(Health.liveHeapMb(spark))
    workload.afterWarmUp(spark)

    val tracer = if (trace) Some(Tracer.install(spark)) else None
    val spans: Spans = tracer.getOrElse(NoTrace)
    val samples = ArrayBuffer.empty[Json.Raw]
    val start = System.nanoTime()
    for (pass <- 0 until opt("passes").toInt; i <- ops.indices)
      samples += runOp(i, pass, spans)
    val measureS = secs(start)
    System.err.println(f"[perfbench] passes done at JVM uptime ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    heapMb += Health.liveHeapMb(spark)
    val after = Health.sample()
    val traced = tracer.map(_.finish())
    val check = workload.verify(spark)

    // traced runs only: the same operations once more on a single core
    val oneCore = if (!trace) None else {
      spark.stop()
      spark = session(1, work)
      val t0 = System.nanoTime()
      ops.indices.foreach { i => workload.run(spark, i, NoTrace); spark.catalog.clearCache() }
      Some(secs(t0))
    }
    spark.stop()

    Files.writeString(Paths.get(work, "result.json"), Json.obj(
      "workload" -> opt("workload"), "cores" -> cores, "setups" -> setups.toSeq,
      "passes" -> opt("passes").toInt, "measure_s" -> measureS,
      "warm_up" -> warmUpSamples, "samples" -> samples.toSeq,
      "heap_live_mb" -> heapMb.toSeq, "heap_live_peak_mb" -> heapMb.max,
      "health" -> Json.Raw(Json.obj("before" -> before, "after" -> after)),
      "check" -> check, "trace" -> traced, "one_core_pass_s" -> oneCore))
  }
}

/** Host health around a run: load average and a fixed single-thread CPU
  * probe, so a slowed host shows in the record. */
object Health {
  @volatile private var sink = 0L

  private def probeOnce(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    sink += x
    (System.nanoTime() - t0) / 1e9
  }

  /** Median of three timings of the same fixed loop. */
  def cpuProbeS(): Double = Seq.fill(3)(probeOnce()).sorted.apply(1)

  def sample(): Json.Raw = Json.Raw(Json.obj(
    "load_avg" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
    "cpu_probe_s" -> cpuProbeS()))

  /** Heap in use right after a full collection: the live set. Draining
    * the listener bus first fixes how much job and stage state Spark's
    * status store holds; the pauses between collections let the context
    * cleaner drop the broadcasts and shuffles of frames that an earlier
    * collection found unreachable. */
  def liveHeapMb(spark: org.apache.spark.sql.SparkSession): Double = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(250) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
