package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CardinalitySpec extends SparkSpec {
  import spark.implicits._

  test("hll: merge of split halves ≡ single-pass build (mergeability law)") {
    val all = (1 to 5000).map(_.toLong).toDF("id")
    val direct = Cardinality.hllRegisters(all, "id")
    val merged = Cardinality.hllMerge(
      Cardinality.hllRegisters(all.filter($"id" % 3 === 0), "id"),
      Cardinality.hllMerge(
        Cardinality.hllRegisters(all.filter($"id" % 3 === 1), "id"),
        Cardinality.hllRegisters(all.filter($"id" % 3 === 2), "id")))
    assert(direct.exceptAll(merged).isEmpty &&
      merged.exceptAll(direct).isEmpty)
  }

  test("hll: estimate within ~5% at 20k distinct (p=12 → σ≈1.6%)") {
    val df = (1 to 20000).map(i => s"key$i").toDF("k")
      .repartition(8)
    val est = Cardinality.hllEstimate(
      Cardinality.hllRegisters(df, "k"), p = 12)
      .select("est_hll").as[Double].head()
    assert(math.abs(est - 20000.0) / 20000.0 < 0.05, s"est=$est")
  }

  test("hll: duplicates do not move the estimate (cardinality, not count)") {
    val uniq = (1 to 3000).map(_.toString).toDF("k")
    val dup = ((1 to 3000) ++ (1 to 3000) ++ (1 to 3000))
      .map(_.toString).toDF("k")
    val e1 = Cardinality.hllEstimate(
      Cardinality.hllRegisters(uniq, "k"), 12).collect()
    val e2 = Cardinality.hllEstimate(
      Cardinality.hllRegisters(dup, "k"), 12).collect()
    assert(e1.sameElements(e2))
  }

  test("hll: small-range linear counting kicks in and stays accurate") {
    val df = (1 to 100).map(_.toLong).toDF("id")
    val row = Cardinality.hllEstimate(
      Cardinality.hllRegisters(df, "id"), 12).head()
    val est = row.getDouble(0)
    assert(row.getLong(1) > 0) // empty buckets present → corrected path
    assert(math.abs(est - 100.0) / 100.0 < 0.15, s"est=$est")
  }

  test("hll: persisted sketch round-trips; wrong p fails loudly") {
    val dir = tempDir("graft-hll-spec").toString
    val regs = Cardinality.hllRegisters(
      (1 to 1000).map(_.toLong).toDF("id"), "id")
    Cardinality.writeSketch(regs, dir)
    val back = Cardinality.readSketch(spark, dir, expectP = 12)
    assert(regs.exceptAll(back).isEmpty && back.exceptAll(regs).isEmpty)
    val e = intercept[IllegalArgumentException] {
      Cardinality.readSketch(spark, dir, expectP = 10)
    }
    assert(e.getMessage.contains("does not match"))
  }

  test("hll overlap: disjoint ≈ 0 (clamped), identical ≈ |A|, half ≈ half") {
    def est(a: Seq[Long], b: Seq[Long]): Double = {
      val da = a.toDF("k"); val db = b.toDF("k")
      Cardinality.hllOverlapEstimate(da, "k", db, "k", p = 12)
        .select("est_overlap").as[Double].head()
    }
    val xs = (1L to 8000L)
    // disjoint
    val d = est(xs.take(4000), xs.drop(4000))
    assert(d >= 0.0 && d < 400.0, s"disjoint est=$d") // ≥0 by clamp, ≈0
    // identical
    val i = est(xs.take(4000), xs.take(4000))
    assert(math.abs(i - 4000.0) / 4000.0 < 0.1, s"identical est=$i")
    // half overlap: [1,4000] vs [2001,6000] → 2000
    val h = est(xs.take(4000), xs.slice(2000, 6000))
    assert(math.abs(h - 2000.0) / 2000.0 < 0.25, s"half est=$h")
  }

  test("hll by group: each group's sketch ≡ its solo sketch; estimates track truth") {
    val df = ((1 to 6000).map(i => ("a", s"k${i % 3000}")) ++
      (1 to 200).map(i => ("b", s"k$i"))).toDF("g", "k")
      .repartition(7)
    val grouped = Cardinality.hllRegistersBy(df, Seq("g"), "k")
    // per-group slice ≡ ungrouped sketch of that slice
    Seq("a", "b").foreach { g =>
      val slice = grouped.filter($"g" === g).drop("g")
      val solo = Cardinality.hllRegisters(df.filter($"g" === g), "k")
      assert(slice.exceptAll(solo).isEmpty &&
        solo.exceptAll(slice).isEmpty, s"group $g")
    }
    val est = Cardinality.hllEstimateBy(grouped, Seq("g"), p = 12)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(est("a") - 3000.0) / 3000.0 < 0.1)
    assert(math.abs(est("b") - 200.0) / 200.0 < 0.15)
  }

  test("hll: registers are partition-proof") {
    val df = (1 to 4000).map(i => s"u$i").toDF("k")
    val a = Cardinality.hllRegisters(df, "k").collect().toSet
    val b = Cardinality.hllRegisters(df.repartition(13), "k")
      .collect().toSet
    assert(a == b)
  }

  test("KMV: unsaturated sketch IS the sorted distinct hash set and " +
      "its estimate is the exact count") {
    import spark.implicits._
    val df = Seq("a", "b", "c", "b", "a").map(Tuple1(_)).toDF("k")
      .select(lit(1).as("g"), col("k"))
    val sk = Cardinality.kmvSketchBy(df, Seq("g"), "k", k = 8)
    val arr = sk.select(col("sketch")).head.getSeq[Long](0)
    assert(arr.length == 3 && arr == arr.sorted && arr.distinct == arr)
    val est = Cardinality.kmvEstimated(sk, "sketch", 8)
      .select(col("est_kmv")).head.getLong(0)
    assert(est == 3L)
  }

  test("KMV: merge ≡ the sketch of the union; dedup across " +
      "partitions; saturated estimate within sketch error") {
    import spark.implicits._
    val n = 5000
    val a = (0 until n).map(i => s"k$i")
    val b = (n / 2 until n + n / 2).map(i => s"k$i") // 50% overlap
    val k = 64
    def sketch(xs: Seq[String]) = Cardinality.kmvSketchBy(
      xs.map(Tuple1(_)).toDF("k").repartition(7)
        .select(lit(1).as("g"), col("k")), Seq("g"), "k", k)
    val ska = sketch(a).select(col("sketch").as("a_sk"))
    val skb = sketch(b).select(col("sketch").as("b_sk"))
    val skU = sketch((a ++ b).distinct)
      .select(col("sketch")).head.getSeq[Long](0)
    val merged = ska.crossJoin(skb)
      .select(Cardinality.kmvMerge(col("a_sk"), col("b_sk"), k)
        .as("m")).head.getSeq[Long](0)
    assert(merged == skU, "merge must equal the union's own sketch")
    val ops = Cardinality.kmvSetOps(ska.crossJoin(skb), "a_sk",
      "b_sk", k).select(col("est_a"), col("est_union"),
        col("est_jaccard_ppm"), col("est_intersection")).head
    // σ ≈ 1/√63 ≈ 12.6%; allow 3σ
    assert(math.abs(ops.getLong(0) - n) < n * 0.4, ops.toString)
    assert(math.abs(ops.getLong(1) - 1.5 * n) < 1.5 * n * 0.4,
      ops.toString)
    // true Jaccard = (n/2)/(3n/2) = 1/3
    assert(ops.getLong(2) > 120000 && ops.getLong(2) < 550000,
      ops.toString)
    assert(ops.getLong(3) > 0, ops.toString)
  }

  test("KMV: identical sets estimate Jaccard exactly 10⁶; disjoint " +
      "sets 0") {
    import spark.implicits._
    val k = 16
    def sk(xs: Seq[String], as: String) = Cardinality.kmvSketchBy(
      xs.map(Tuple1(_)).toDF("k").select(lit(1).as("g"), col("k")),
      Seq("g"), "k", k).select(col("sketch").as(as))
    val xs = (0 until 100).map(i => s"v$i")
    val same = Cardinality.kmvSetOps(
      sk(xs, "a_sk").crossJoin(sk(xs, "b_sk")), "a_sk", "b_sk", k)
    assert(same.select(col("est_jaccard_ppm")).head.getLong(0)
      == 1000000L)
    val dis = Cardinality.kmvSetOps(
      sk(xs, "a_sk").crossJoin(
        sk((0 until 100).map(i => s"w$i"), "b_sk")), "a_sk", "b_sk", k)
    val d = dis.select(col("est_jaccard_ppm"), col("est_intersection"))
      .head
    assert(d.getLong(0) == 0L && d.getLong(1) == 0L)
  }
}
