package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch clock in microseconds with `nanoTime` resolution, so benchmark
  * spans line up with the epoch-millisecond times of listener events. */
object Clock {
  private val epoch0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epoch0Us + (System.nanoTime() - nano0) / 1000L
}

/** Spans around the calls the benchmark makes into each layer. The
  * untraced implementation only evaluates the body. */
trait Spans {
  def span[A](name: String)(body: => A): A
}

object NoTrace extends Spans {
  def span[A](name: String)(body: => A): A = body
}

/** Traced run: benchmark-side spans plus a `SparkListener` (jobs, stages,
  * tasks) and a `QueryExecutionListener` (Catalyst phase times). Every
  * span sets its own job group, so jobs submitted inside it — including
  * jobs that `graft.core.Par` overlaps on pool threads, which pin the
  * caller's group — are attributed to it. Records stay in memory until
  * [[finish]]. The tracer's own time (span bookkeeping and callbacks) is
  * accumulated in `overheadNs`.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with Spans {
  private val overheadNs = new AtomicLong
  private val nextId = new AtomicLong(1)
  private var stack: List[(Long, String)] = Nil
  private val spans = ArrayBuffer.empty[String]
  private val events = ArrayBuffer.empty[String]
  private val groupKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  private def timed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally overheadNs.addAndGet(System.nanoTime() - t0)
  }
  private def record(json: String): Unit = timed(events.synchronized(events += json))

  def span[A](name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val (id, parent, saved, start) = timed {
      val id = nextId.getAndIncrement()
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      val saved = groupKeys.map(k => k -> sc.getLocalProperty(k))
      sc.setJobGroup(id.toString, name)
      stack = (id, name) :: stack
      (id, parent, saved, Clock.nowUs)
    }
    try body
    finally timed {
      val end = Clock.nowUs
      stack = stack.tail
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      spans += Json.obj("id" -> id, "parent" -> parent, "name" -> name,
        "start_us" -> start, "end_us" -> end)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    record(Json.obj("kind" -> "job", "id" -> e.jobId, "group" -> group,
      "start_ms" -> e.time, "stages" -> e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    record(Json.obj("kind" -> "job_end", "id" -> e.jobId, "end_ms" -> e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val csv = s.rddInfos.exists(r =>
      (r.name + " " + r.scope.map(_.name).getOrElse("")).toLowerCase.contains("csv"))
    record(Json.obj("kind" -> "stage", "id" -> s.stageId,
      "submit_ms" -> s.submissionTime, "done_ms" -> s.completionTime,
      "tasks" -> s.numTasks, "csv" -> csv))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    record(Json.obj("kind" -> "task", "stage" -> e.stageId,
      "launch_ms" -> i.launchTime, "finish_ms" -> i.finishTime,
      "run_ms" -> g(_.executorRunTime), "cpu_ns" -> g(_.executorCpuTime),
      "gc_ms" -> g(_.jvmGCTime), "result_b" -> g(_.resultSize),
      "sw_b" -> g(_.shuffleWriteMetrics.bytesWritten),
      "sr_b" -> g(_.shuffleReadMetrics.totalBytesRead),
      "fetch_ms" -> g(_.shuffleReadMetrics.fetchWaitTime),
      "spill_b" -> g(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      "in_b" -> g(_.inputMetrics.bytesRead),
      "out_b" -> g(_.outputMetrics.bytesWritten)))
  }

  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      record(Json.obj("kind" -> "phase", "phase" -> phase,
        "start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs))
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe)

  /** Wait for the listener bus, detach, and render everything recorded. */
  def finish(): Json.Raw = {
    PerfbenchAccess.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    Json.Raw(Json.obj(
      "spans" -> spans.map(Json.Raw(_)).toSeq,
      "events" -> events.synchronized(events.map(Json.Raw(_)).toSeq),
      "overhead_s" -> overheadNs.get / 1e9))
  }
}

object Tracer {
  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  final case class Raw(json: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(j) => j
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
