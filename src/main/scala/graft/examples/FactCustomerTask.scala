package graft.examples

import graft.core.{ColumnDef, TableSpec}
import graft.dq.{Category, DqRule, DqSplit, Priority, Source => DqSource}
import graft.etl.MapAll
import graft.operators.Lookup
import graft.pipeline.SparkSqlTask
import graft.sink.TargetSpec
import graft.sources.Sources
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Spark-native rebuild of the reference's end-to-end example pipeline
  * (reference example/tasks/fact_customer_task.py, golden outputs in
  * example/README.md): customers CSV → validity-window blood-group lookup →
  * date parse/age derivation → valid-blood-group lookup → DQ side table →
  * idempotent batch write of `fact_customer` + `fact_customer_dq`.
  *
  * Where the reference loops rows in Python, everything here is
  * declarative: the lookups are broadcast left joins, the per-row branches
  * are `when`/`otherwise`, and the DQ side output is an issues-array +
  * explode (graft.dq.DqSplit) — so the same pipeline parallelizes over any
  * number of executors. One shared materialization of the staged rows
  * (SparkSqlTask.shared) feeds the row-count check and both outputs, so
  * each source file is scanned once per batch; the declared CSV headers
  * keep header reads out of plan building.
  */
class FactCustomerTask(
    spark: SparkSession,
    reportDate: java.sql.Date,
    customersCsv: String,
    bloodGroupsCsv: String,
    validGroupsCsv: String,
    target: TargetSpec)
  extends SparkSqlTask(spark, Map("report_date" -> reportDate)) {

  val factSpec: TableSpec = TableSpec(
    name = "fact_customer",
    columns = Seq(
      ColumnDef("report_date", org.apache.spark.sql.types.DateType,
        nullable = false, primaryKey = true,
        comment = Some("batch: report date")),
      ColumnDef("etl_timestamp", org.apache.spark.sql.types.TimestampType,
        nullable = false),
      ColumnDef("customer_name", org.apache.spark.sql.types.StringType,
        primaryKey = true, maxLength = Some(128)),
      ColumnDef("birthdate", org.apache.spark.sql.types.DateType),
      ColumnDef("age", org.apache.spark.sql.types.IntegerType),
      ColumnDef("blood_group", org.apache.spark.sql.types.StringType,
        maxLength = Some(3))),
    batchColumns = Seq("report_date"),
    timestampColumn = Some("etl_timestamp"))

  addTable(factSpec, target)
  addTable(factSpec.dqSpec(), target)

  override def transform(): Unit = {
    val rd = lit(reportDate)

    // main row source (reference SQL: WHERE report_date = :report_date)
    val customers = Sources.csv(spark, customersCsv,
      columns = Seq("report_date", "name", "birthday"))
      .filter(to_date(col("report_date")) === rd)

    // validity-window lookup (SCD2-style point-in-interval predicate,
    // fact_customer_task.py:60-61), deterministic first-row-wins via the
    // CSV line order as tiebreaker (SURVEY.md §7.5)
    val blood = Sources.csv(spark, bloodGroupsCsv,
      columns = Seq("start_date", "end_date", "name", "blood_group"))
      .withColumn("__line", monotonically_increasing_id())
      .filter(to_date(col("start_date")) <= rd && to_date(col("end_date")) > rd)
      .select(col("name"), col("blood_group"), col("__line"))
    val bgLookup = Lookup(blood, Seq("name"), tiebreaker = Some("__line"))

    // valid-blood-groups lookup: key and value are the same column; keep
    // a renamed value column so a miss is observable as null
    val valid = Sources.csv(spark, validGroupsCsv, columns = Seq("blood_group"))
      .select(col("blood_group").as("bg_key"),
        col("blood_group").as("valid_blood_group"))
    val validLookup = Lookup(valid, Seq("bg_key"))

    val enriched = bgLookup.enrich(customers)
      .withColumnRenamed("blood_group", "customer_blood_group")
    // validate() and both writes derive from `staged`: materialize it once
    val staged = shared(validLookup
      .enrich(enriched, keyMap = Map("bg_key" -> "customer_blood_group"))
      .withColumn("parsed", expr("try_to_date(birthday, 'yyyy-MM-dd')"))
      .withColumn("birthdate", when(col("parsed") > rd, lit(null))
        .otherwise(col("parsed")).cast("date"))
      .withColumn("age", when(col("birthdate").isNotNull,
        floor(datediff(rd, col("birthdate")) / 365.25).cast("int")))
      .withColumn("report_date", rd)
      .withColumn("customer_name", col("name"))
      .withColumn("blood_group", col("valid_blood_group")))

    // row-level DQ (fact_customer_task.py:85-158), declaratively
    val rules = Seq(
      DqRule("birthdate", col("birthday").isNull, DqSource.Source,
        Priority.Medium, Category.Missing, "Missing birthdate"),
      DqRule("birthdate", col("birthday").isNotNull && col("parsed").isNull,
        DqSource.Source, Priority.High, Category.Incorrect,
        concat(lit("Cannot parse birthdate: "), col("birthday"))),
      DqRule("birthdate", col("parsed") > rd, DqSource.Source,
        Priority.High, Category.Incorrect,
        concat(lit("Birthdate in future: "), col("birthday"))),
      DqRule("age", col("age").isNull, DqSource.Transform,
        Priority.Medium, Category.Missing,
        "Age is undefined due to undefined birthdate"),
      DqRule("blood_group", col("customer_blood_group").isNull,
        DqSource.Source, Priority.Medium, Category.Missing,
        "Blood group undefined in customer blood group table"),
      DqRule("blood_group",
        col("customer_blood_group").isNotNull && col("valid_blood_group").isNull,
        DqSource.Source, Priority.High, Category.Incorrect,
        concat(lit("Invalid blood group: "), col("customer_blood_group"))))

    val (_, dq) = DqSplit(staged, factSpec, rules)
    val main = MapAll(staged, factSpec,
      batch = Map("report_date" -> reportDate))

    setOutput("fact_customer", main)
    setOutput("fact_customer_dq", dq)
  }

  override def validate(): Unit =
    requireMinRows(getOutput("fact_customer"), 2,
      "There should never be less than 2 rows")
}
