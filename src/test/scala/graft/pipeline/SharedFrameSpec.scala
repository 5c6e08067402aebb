package graft.pipeline

import java.nio.file.Files
import java.sql.Date

import scala.collection.mutable

import graft.SparkSpec
import graft.core.TooFewRowsException
import graft.examples.FactCustomerTask
import graft.sink.ParquetTarget
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll

/** One scan per source per batch: `FactCustomerTask` builds its plan
  * without running a job, materializes the staged rows once through
  * [[SparkSqlTask.shared]] for the row-count check and both writes, and
  * releases them when `execute()` ends, whether it succeeds or throws.
  */
class SharedFrameSpec extends SparkSpec with BeforeAndAfterAll {

  /** Jobs and completed CSV-scan stages per job group. A stage scans a
    * CSV when an RDD scoped `Scan csv` (a scope the benchmark's tracer
    * also matches) is in its lineage below no persisted RDD that an earlier stage
    * already computed: a stage reading cached blocks lists the scan among
    * its ancestors but never runs it. */
  private object Recorder extends SparkListener {
    val jobs = mutable.Map.empty[String, Int].withDefaultValue(0)
    val csvStages = mutable.Map.empty[String, Int].withDefaultValue(0)
    private val groupOfStage = mutable.Map.empty[Int, String]
    private val computed = mutable.Set.empty[Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g =>
          jobs(g) += 1
          e.stageIds.foreach(groupOfStage(_) = g)
        }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      if (s.failureReason.isEmpty) {
        val byId = s.rddInfos.map(r => r.id -> r).toMap
        def scans(id: Int): Boolean = byId.get(id).exists(r => !computed(id) &&
          (r.scope.exists(_.name.trim == "Scan csv") || r.parentIds.exists(scans)))
        val roots = byId.keySet -- s.rddInfos.flatMap(_.parentIds)
        if (roots.exists(scans)) groupOfStage.get(s.stageId).foreach(csvStages(_) += 1)
        computed ++= s.rddInfos.filter(_.storageLevel.isValid).map(_.id)
      }
    }
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(Recorder)
  }

  override def afterAll(): Unit =
    try spark.sparkContext.removeSparkListener(Recorder) finally super.afterAll()

  /** Run `body` in job group `group`, restoring the caller's group after. */
  private def inGroup[A](group: String)(body: => A): A = {
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try body finally sc.setLocalProperty("spark.jobGroup.id", saved)
  }

  private def recorded(group: String): (Int, Int) = {
    ListenerBusDrain(spark.sparkContext)
    Recorder.synchronized((Recorder.jobs(group), Recorder.csvStages(group)))
  }

  /** The golden pipeline over the fixtures, recording the frames it
    * shares; `share = false` runs the same plan without sharing. */
  private class Probe(date: String, dir: String, share: Boolean = true)
      extends FactCustomerTask(spark, Date.valueOf(date),
        fixture("customers.csv"), fixture("customer_blood_groups.csv"),
        fixture("valid_blood_groups.csv"), ParquetTarget(dir)) {
    val sharedFrames = mutable.ArrayBuffer.empty[DataFrame]
    override protected def shared(df: DataFrame): DataFrame =
      if (!share) df else {
        sharedFrames += df
        super.shared(df)
      }
    override def transform(): Unit = inGroup(s"$dir/transform")(super.transform())
  }

  private def tmp(): String = tempDir("graft_shared").toString

  /** Nothing of `task`'s is left in the cache manager or the block
    * manager's persisted RDDs. */
  private def assertReleased(task: Probe, rddsBefore: Set[Int]): Unit = {
    assert(task.sharedFrames.nonEmpty, "the task shared no frame")
    // a frame's storage level is its cache-manager entry's, NONE without one
    task.sharedFrames.foreach(df => assert(df.storageLevel == StorageLevel.NONE))
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == rddsBefore)
  }

  private def rows(target: String, table: String): Seq[String] =
    spark.read.parquet(s"$target/$table").drop("etl_timestamp")
      .collect().map(_.toString).toSeq.sorted

  test("transform() runs no job; execute() scans each CSV file once and releases the frame") {
    val dir = tmp()
    val task = new Probe("2019-06-30", dir)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    inGroup(s"$dir/execute")(task.execute())

    assert(recorded(s"$dir/transform")._1 == 0, "transform() submitted jobs")
    // customers, blood groups, valid groups: one scan each, whatever
    // validate() and the two writes do with them
    assert(recorded(s"$dir/execute")._2 == 3)
    assertReleased(task, rddsBefore)

    // sharing changes no output row
    val plain = tmp()
    new Probe("2019-06-30", plain, share = false).execute()
    Seq("fact_customer", "fact_customer_dq").foreach { t =>
      assert(rows(dir, t) == rows(plain, t), t)
    }
  }

  test("a validate() failure releases the shared frame") {
    val task = new Probe("2001-01-01", tmp())
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    intercept[TooFewRowsException](task.execute())
    assertReleased(task, rddsBefore)
  }

  test("a failing observed-metrics check releases the shared frame") {
    val task = new Probe("2019-06-30", tmp()) {
      override def transform(): Unit = {
        super.transform()
        setOutputObserved("fact_customer", getOutput("fact_customer"),
          Seq(count(lit(1)).as("n")),
          m => throw new IllegalStateException(s"rejected ${m("n")} rows"))
      }
    }
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val e = intercept[IllegalStateException](task.execute())
    // the write's metrics, not those of validate()'s limit(2).count()
    assert(e.getMessage == "rejected 5 rows")
    assertReleased(task, rddsBefore)
  }
}
