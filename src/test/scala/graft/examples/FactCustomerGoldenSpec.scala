package graft.examples

import graft.SparkSpec
import graft.sink.ParquetTarget
import java.nio.file.Files
import java.sql.Date

/** Golden end-to-end acceptance test: the reference's own example outputs
  * (reference example/README.md "Viewing results"; FIXTURES.md §A).
  *
  * Note on John Connor's blood group: the reference *code* is
  * first-row-wins on duplicate lookup keys (sqltask/base/lookup_source.py:
  * 28-36), and the CSV lists O- before A-, so the correct output is O-.
  * The reference README shows A- — stale relative to the shipped fixture
  * order. We assert the code semantics (deterministic first row).
  */
class FactCustomerGoldenSpec extends SparkSpec {

  test("golden fact_customer + fact_customer_dq, idempotent re-run") {
    val base = tempDir("graft_golden").toString
    val target = ParquetTarget(base)
    val task = new FactCustomerTask(spark, Date.valueOf("2019-06-30"),
      fixture("customers.csv"), fixture("customer_blood_groups.csv"),
      fixture("valid_blood_groups.csv"), target)
    task.execute()

    val fact = target.read(spark, task.factSpec)
      .select("customer_name", "birthdate", "age", "blood_group")
      .collect().map(r => (r.getString(0),
        Option(r.getDate(1)).map(_.toString).orNull,
        if (r.isNullAt(2)) null else r.getInt(2).toString,
        r.getString(3))).toSet
    assert(fact == Set(
      ("Sarah Connor", "1956-09-26", "62", "A+"),
      ("John Connor", null, null, "O-"),
      ("Peter Impossible", null, null, null),
      ("Mary Null", null, null, null),
      ("Terminator", null, null, null)))

    val dq = target.read(spark, task.factSpec.dqSpec())
      .select("customer_name", "source", "priority", "category",
        "column_name", "message")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5))).toSet
    val golden = Set(
      ("Terminator", "source", "high", "incorrect", "blood_group",
        "Invalid blood group: Liquid Metal"),
      ("Terminator", "transform", "medium", "missing", "age",
        "Age is undefined due to undefined birthdate"),
      ("Terminator", "source", "high", "incorrect", "birthdate",
        "Birthdate in future: 2095-01-01"),
      ("Peter Impossible", "source", "high", "incorrect", "blood_group",
        "Invalid blood group: X+"),
      ("Peter Impossible", "transform", "medium", "missing", "age",
        "Age is undefined due to undefined birthdate"),
      ("Peter Impossible", "source", "high", "incorrect", "birthdate",
        "Cannot parse birthdate: 1980-13-01"),
      ("Mary Null", "source", "medium", "missing", "blood_group",
        "Blood group undefined in customer blood group table"),
      ("Mary Null", "transform", "medium", "missing", "age",
        "Age is undefined due to undefined birthdate"),
      ("Mary Null", "source", "medium", "missing", "birthdate",
        "Missing birthdate"),
      ("John Connor", "transform", "medium", "missing", "age",
        "Age is undefined due to undefined birthdate"),
      ("John Connor", "source", "high", "incorrect", "birthdate",
        "Birthdate in future: 2080-01-01"))
    assert(dq == golden, s"dq rows: ${dq.size}, expected 11")

    // reference §1.4 invariant: re-running the batch is idempotent
    task.execute()
    assert(target.read(spark, task.factSpec).count() == 5)
    assert(target.read(spark, task.factSpec.dqSpec()).count() == 11)
  }
}
