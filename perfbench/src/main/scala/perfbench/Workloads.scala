package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.core.TableSpec
import graft.examples.FactCustomerTask
import graft.sink.{ParquetTarget, TargetSpec}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** What one timed operation produced: its row count, and a check that is
  * run after the timer stops. */
final case class Outcome(rows: Long, check: () => Boolean)

/** A named list of operations the closed-loop client runs in order. */
trait Workload {
  def ops: Seq[String]
  def run(spark: SparkSession, op: Int, t: Spans): Outcome
  /** Untimed, after the warm-up pass has run every operation once. */
  def afterWarmUp(spark: SparkSession): Unit = ()
  /** Untimed checks after the measured passes; rendered for run.py. */
  def verify(spark: SparkSession): Json.Raw
}

/** Catalog queries: an operation builds the query's frame and collects its
  * result. Every execution must return the rows of the first one; the first
  * result of each query is dumped with its oracle SQL for
  * `tools/compare_oracle.py`. */
final class CatalogWorkload(val ops: Seq[String], dataDir: String, dumpDir: String)
    extends Workload {
  private val defs = graft.SparkEntry.catalog.map(q => q.name -> q).toMap
  private val first = scala.collection.mutable.Map.empty[String, (StructType, Array[Row], String)]

  def run(spark: SparkSession, op: Int, t: Spans): Outcome = {
    val name = ops(op)
    val df = t.span("queries.build")(defs(name).fn(spark, dataDir))
    val rows = t.span("queries.exec")(df.collect())
    Outcome(rows.length, () => {
      val d = digest(rows)
      first.getOrElseUpdate(name, (df.schema, rows, d))._3 == d
    })
  }

  private def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def verify(spark: SparkSession): Json.Raw = {
    Files.createDirectories(Paths.get(dumpDir))
    first.foreach { case (name, (schema, rows, _)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dumpDir/$name")
    }
    val outAbs = new java.io.File(dumpDir).getCanonicalPath
    val oracle = ops.distinct.flatMap(n => defs(n).oracle.map(sql =>
      n -> sql.replace("__GRAFT_VERIFY_OUT__", outAbs))).toMap
    Files.writeString(Paths.get(dumpDir, "oracle_sql.json"), Json.value(oracle))
    Json.Raw(Json.obj("dump_dir" -> outAbs, "dumped" -> first.keys.toSeq.sorted))
  }
}

/** The reference's golden pipeline with its lifecycle calls timed from
  * outside: transform/validate through this subclass, migrate and each
  * table's batch overwrite through [[TimedTarget]]. */
final class BenchFactCustomerTask(spark: SparkSession, reportDate: java.sql.Date,
    customers: String, bloodGroups: String, validGroups: String,
    target: TargetSpec, t: Spans)
  extends FactCustomerTask(spark, reportDate, customers, bloodGroups, validGroups,
    new TimedTarget(target, t)) {
  override def transform(): Unit = t.span("pipeline.transform")(super.transform())
  override def validate(): Unit = t.span("pipeline.validate")(super.validate())
}

final class TimedTarget(inner: TargetSpec, t: Spans) extends TargetSpec {
  override def supportsPrimaryKeys: Boolean = inner.supportsPrimaryKeys
  override def supportsColumnComments: Boolean = inner.supportsColumnComments
  override def supportsTableComments: Boolean = inner.supportsTableComments
  override def supportsSchemas: Boolean = inner.supportsSchemas
  def overwriteBatch(df: DataFrame, spec: TableSpec): Unit =
    t.span(s"sink.overwrite_batch.${spec.name}")(inner.overwriteBatch(df, spec))
  def append(df: DataFrame, spec: TableSpec): Unit = inner.append(df, spec)
  override def migrate(spark: SparkSession, spec: TableSpec): Unit =
    t.span("pipeline.migrate")(inner.migrate(spark, spec))
  def read(spark: SparkSession, spec: TableSpec): DataFrame = inner.read(spark, spec)
}

/** ETL batches: an operation is one `execute()` of the fact-customer task
  * for one report date, written by idempotent batch overwrite. */
final class EtlWorkload(val ops: Seq[String], csvDir: String, work: String,
    rowsPerBatch: Long) extends Workload {
  private val target = ParquetTarget(s"$work/etl_target")

  private def task(spark: SparkSession, date: String, tgt: TargetSpec, t: Spans) =
    new BenchFactCustomerTask(spark, java.sql.Date.valueOf(date),
      s"$csvDir/customers.csv", s"$csvDir/customer_blood_groups.csv",
      s"$csvDir/valid_blood_groups.csv", tgt, t)

  def run(spark: SparkSession, op: Int, t: Spans): Outcome = {
    task(spark, ops(op), target, t).execute()
    Outcome(rowsPerBatch, () => true)
  }

  private def counts(spark: SparkSession): (Map[String, Long], Map[String, Long]) = {
    val probe = task(spark, ops.head, target, NoTrace)
    val fact = target.read(spark, probe.factSpec)
      .groupBy("report_date").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    val dq = target.read(spark, probe.factSpec.dqSpec())
      .groupBy("report_date", "source", "priority", "category").count().collect()
      .map(r => (0 to 3).map(r.get(_).toString).mkString("|") -> r.getLong(4)).toMap
    (fact, dq)
  }

  private var firstCounts = (Map.empty[String, Long], Map.empty[String, Long])

  /** Counts once the warm-up pass has loaded every date once ... */
  override def afterWarmUp(spark: SparkSession): Unit = firstCounts = counts(spark)

  /** ... and again after the timed passes re-ran every date. */
  def verify(spark: SparkSession): Json.Raw = {
    val (fact2, dq2) = counts(spark)
    Json.Raw(Json.obj("fact" -> firstCounts._1, "dq" -> firstCounts._2,
      "fact_rerun" -> fact2, "dq_rerun" -> dq2))
  }
}
