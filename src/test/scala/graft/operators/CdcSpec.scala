package graft.operators

import graft.SparkSpec

/** CDC compaction semantics: every net_op branch, last-version
  * payload, delete nulls, version tie-break; inclusion profiling.
  */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  test("compact: all four net_op branches; payload = last version's; " +
      "deletes carry null payload") {
    val ch = Seq(
      // k=1: I,U → insert, price from the U
      (1L, 1L, "I", Some(10.0)), (1L, 2L, "U", Some(11.0)),
      // k=2: I,D → noop
      (2L, 1L, "I", Some(20.0)), (2L, 3L, "D", None),
      // k=3: U,D (no insert seen) → delete
      (3L, 2L, "U", Some(30.0)), (3L, 3L, "D", None),
      // k=4: U only → update
      (4L, 2L, "U", Some(40.0)),
      // k=5: I only → insert
      (5L, 1L, "I", Some(50.0))
    ).toDF("k", "ver", "op", "price")
    val got = Cdc.compact(ch.repartition(4), "k", "ver", "op",
        Seq("price"))
      .orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getString(5),
        Option(r.get(6)))).toSeq
    assert(got == Seq(
      (1L, 2L, 2L, "I", "U", "insert", Some(11.0)),
      (2L, 2L, 3L, "I", "D", "noop", None),
      (3L, 2L, 3L, "U", "D", "delete", None),
      (4L, 1L, 2L, "U", "U", "update", Some(40.0)),
      (5L, 1L, 1L, "I", "I", "insert", Some(50.0))), got.toString)
  }

  test("compact: same-version ties break by op (I < U < D)") {
    val ch = Seq(
      (1L, 1L, "U", Some(1.0)), (1L, 1L, "I", Some(2.0)),
      (1L, 1L, "D", None)
    ).toDF("k", "ver", "op", "price")
    val r = Cdc.compact(ch, "k", "ver", "op", Seq("price"))
      .collect().head
    assert(r.getString(3) == "I" && r.getString(4) == "D" &&
      r.getString(5) == "noop")
  }

  test("inclusionStats: full containment 10^6 ppm; orphans counted " +
      "on DISTINCT child values") {
    val child = Seq(1L, 1L, 2L, 3L).toDF("c")
    val parent = Seq(1L, 2L).toDF("p")
    val r = Cdc.inclusionStats(child, "c", parent, "p", "t")
      .collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((3L, 1L, 666666L)), r.toString)
    val full = Cdc.inclusionStats(parent, "p", child, "c", "t2")
      .collect().head
    assert(full.getLong(3) == 1000000L)
  }

  test("lshCalibration: exact-dup pair lands in decile 10 with " +
      "true_ppm 10^6; estimates never under-represent a full match") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "completely different words entirely here now today")
    ).toDF("doc_id", "text")
    val cal = Dedup.lshCalibration(docs, "doc_id", "text", n = 3,
        k = 16, bands = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(cal.contains(10L), cal.toString) // the exact dup bucket
    assert(cal(10L)._3 == 1000000L)         // true J = 1
  }
}
