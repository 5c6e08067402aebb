package graft.pipeline

import graft.core.{TableSpec, TooFewRowsException}
import graft.operators.Lookup
import graft.sink.TargetSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Batch-ETL task driver — the Spark-native `SqlTask`
  * (sqltask/__init__.py:12-170).
  *
  * Lifecycle (reference execute_etl order, __init__.py:155-166):
  * `transform()` builds lazy DataFrames, `validate()` may throw (aborting
  * before anything is written — the reference's all-or-nothing property),
  * then each registered output is written with idempotent batch overwrite.
  * Registries mirror add_table / add_row_source / add_lookup_source
  * (__init__.py:24-120); unknown names raise, like the reference.
  *
  * Outputs derived from one intermediate frame share its scans through
  * [[shared]]: the frame is materialized once per `execute()` and every
  * action after it (validate, each write) reads the cached rows.
  */
abstract class SparkSqlTask(
    val spark: SparkSession,
    val batchParams: Map[String, Any]) {

  private val tables = mutable.LinkedHashMap.empty[String, (TableSpec, TargetSpec)]
  private val rowSources = mutable.Map.empty[String, DataFrame]
  private val lookupSources = mutable.Map.empty[String, Lookup]
  private val outputs = mutable.Map.empty[String, DataFrame]
  private val sharedFrames = mutable.ArrayBuffer.empty[DataFrame]

  def addTable(spec: TableSpec, target: TargetSpec): Unit =
    tables(spec.name) = (spec, target)

  def addRowSource(name: String, df: DataFrame): Unit = rowSources(name) = df
  def addLookupSource(name: String, lookup: Lookup): Unit =
    lookupSources(name) = lookup

  def getTableSpec(name: String): TableSpec = tables.get(name) match {
    case Some((spec, _)) => spec
    case None => throw new IllegalArgumentException(s"unknown table $name")
  }
  def getRowSource(name: String): DataFrame = rowSources.getOrElse(name,
    throw new IllegalArgumentException(s"unknown row source $name"))
  def getLookupSource(name: String): Lookup = lookupSources.getOrElse(name,
    throw new IllegalArgumentException(s"unknown lookup source $name"))

  /** Register the finished output for a declared table (the reference's
    * row-buffer append collapses to handing over the lazy plan).
    */
  def setOutput(name: String, df: DataFrame): Unit = {
    require(tables.contains(name), s"unknown table $name")
    outputs(name) = df
    // a replaced output drops the metrics observed on the one it replaces
    observations.remove(name)
  }
  def getOutput(name: String): DataFrame = outputs(name)

  /** Build the output DataFrames (reference transform hook,
    * __init__.py:46-50). */
  def transform(): Unit

  /** Aggregate validation before any write (reference validate hook,
    * __init__.py:52-58); throw to abort the run. */
  def validate(): Unit = ()

  /** Count-based guard (reference TooFewRowsException usage,
    * example/tasks/fact_customer_task.py:164-166). Triggers one action;
    * when `df` derives from a [[shared]] frame that action is the one that
    * materializes it, and the writes after it reuse the cached rows.
    */
  protected def requireMinRows(df: DataFrame, min: Long, msg: String): Unit =
    if (df.limit(min.toInt).count() < min) throw new TooFewRowsException(msg)

  /** Persist `df` (`MEMORY_AND_DISK`) for the current `execute()` and
    * return it. Call from `transform()` on the frame that several actions
    * derive from — e.g. the staged rows behind both the main output and
    * its DQ side output — so the first action (typically `validate()`)
    * computes it once and the later ones read the cache instead of
    * re-scanning the sources and re-running joins and windows.
    * `execute()` unpersists every shared frame once the writes and the
    * observed-metrics checks are done, also when any step throws.
    */
  protected def shared(df: DataFrame): DataFrame = {
    sharedFrames += df.persist(StorageLevel.MEMORY_AND_DISK)
    df
  }

  private val observations = mutable.Map.empty[
    String, (Seq[org.apache.spark.sql.Column], Map[String, Any] => Unit)]

  /** Register an output with observed metrics validated at zero extra
    * cost: the metrics accumulate during the write action itself (no
    * second scan, unlike [[requireMinRows]]). The check runs after the
    * write — safe because batch overwrite is idempotent: a failed check
    * aborts the task and the next run replaces the batch wholesale.
    * This is the `observe()` half of the reference's validate() design
    * (SURVEY.md Q4/P7). Only the frame handed to the writer is observed:
    * an action `validate()` runs on [[getOutput]] (e.g. the
    * `limit(n).count()` of [[requireMinRows]]) cannot fill the metrics.
    */
  def setOutputObserved(name: String, df: DataFrame,
      metrics: Seq[org.apache.spark.sql.Column],
      check: Map[String, Any] => Unit): Unit = {
    require(tables.contains(name), s"unknown table $name")
    require(metrics.nonEmpty, "setOutputObserved needs at least one metric")
    outputs(name) = df
    observations(name) = (metrics, check)
  }

  /** migrate → transform → validate → write-all (reference execute,
    * __init__.py:168-170 + execute_etl ordering 155-166), then
    * observed-metrics checks; [[shared]] frames are released before
    * `postInsert()`, or before the exception propagates. */
  def execute(): Unit = {
    tables.values.foreach { case (spec, target) => target.migrate(spark, spec) }
    try {
      transform()
      validate()
      for ((name, (spec, target)) <- tables; df <- outputs.get(name))
        observations.get(name) match {
          case None => target.overwriteBatch(df, spec)
          case Some((metrics, check)) =>
            val obs = org.apache.spark.sql.Observation(s"graft_$name")
            target.overwriteBatch(df.observe(obs, metrics.head, metrics.tail: _*), spec)
            check(obs.get)
        }
    } finally {
      sharedFrames.foreach(_.unpersist(blocking = true))
      sharedFrames.clear()
    }
    postInsert()
  }

  /** Post-load hook (reference post_insert, __init__.py:129-134). */
  def postInsert(): Unit = ()
}
