package graft.sink

import graft.SparkSpec
import graft.core.{ColumnDef, TableSpec}
import org.apache.spark.sql.types._
import java.nio.file.Files

class ParquetTargetSpec extends SparkSpec {
  import spark.implicits._

  val spec = TableSpec(
    name = "t",
    columns = Seq(
      ColumnDef("batch_id", IntegerType, primaryKey = true),
      ColumnDef("v", IntegerType)),
    batchColumns = Seq("batch_id"))

  test("batch overwrite is idempotent and scoped to the batch (§1.4)") {
    val base = tempDir("graft_sink").toString
    val target = ParquetTarget(base)
    // write batch 1 and batch 2
    target.overwriteBatch(Seq((1, 10), (1, 11)).toDF("batch_id", "v"), spec)
    target.overwriteBatch(Seq((2, 20)).toDF("batch_id", "v"), spec)
    assert(target.read(spark, spec).count() == 3)
    // re-run batch 1 with different rows: replaces batch 1 only
    target.overwriteBatch(Seq((1, 12)).toDF("batch_id", "v"), spec)
    val rows = target.read(spark, spec).orderBy("batch_id", "v")
      .collect().map(r => (r.getInt(1), r.getInt(0)))
    assert(rows.toSeq == Seq((1, 12), (2, 20)))
    // running the same batch twice ≡ once (idempotence property)
    target.overwriteBatch(Seq((1, 12)).toDF("batch_id", "v"), spec)
    assert(target.read(spark, spec).count() == 2)
  }
}
