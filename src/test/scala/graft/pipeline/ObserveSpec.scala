package graft.pipeline

import graft.SparkSpec
import graft.core.{ColumnDef, TableSpec, TooFewRowsException}
import graft.sink.ParquetTarget
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, DoubleType}

/** Observe-based validation: metrics collected during the write action
  * itself; a failing check aborts the task after the (idempotently
  * re-runnable) write.
  */
class ObserveSpec extends SparkSpec {

  private def mkTask(sess: SparkSession, dir: String, minRows: Long) =
    new SparkSqlTask(sess, Map("batch_id" -> 1)) {
      addTable(
        TableSpec("obs_t", Seq(
          ColumnDef("batch_id", IntegerType, nullable = false),
          ColumnDef("amount", DoubleType)), batchColumns = Seq("batch_id")),
        ParquetTarget(dir))
      override def transform(): Unit = {
        import spark.implicits._
        val df = Seq((1, 10.0), (1, 20.0)).toDF("batch_id", "amount")
        setOutputObserved("obs_t", df,
          Seq(count(lit(1)).as("n"), sum(col("amount")).as("total")),
          m => {
            if (m("n").asInstanceOf[Long] < minRows)
              throw new TooFewRowsException(s"got ${m("n")} rows")
            assert(m("total").asInstanceOf[Double] == 30.0)
          })
      }
    }

  test("metrics ride the write action and pass") {
    val dir = tempDir("obs1").toString
    mkTask(spark, dir, minRows = 2).execute()
    assert(spark.read.parquet(s"$dir/obs_t").count() == 2)
  }

  test("failing check aborts; rerun with relaxed gate overwrites batch") {
    val dir = tempDir("obs2").toString
    intercept[TooFewRowsException] {
      mkTask(spark, dir, minRows = 5).execute()
    }
    // batch idempotence makes the failed write recoverable in place
    mkTask(spark, dir, minRows = 2).execute()
    assert(spark.read.parquet(s"$dir/obs_t").count() == 2)
  }
}
