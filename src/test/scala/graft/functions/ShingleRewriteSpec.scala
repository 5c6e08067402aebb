package graft.functions

import graft.SparkSpec
import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** The optimizer rule swaps the declarative HOF shingle pattern for the
  * native kernel — and leaves near-miss expressions alone.
  */
class ShingleRewriteSpec extends SparkSpec {

  private lazy val enabled = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ ShingleRewriteRule
    true
  }

  // file-backed, NOT a LocalRelation: the optimizer eagerly evaluates
  // projections over local relations (ConvertToLocalRelation) before
  // extra rules run, leaving nothing to rewrite
  private def docs = {
    import spark.implicits._
    val dir = tempDir("graft-rw").toString
    Seq("A quick brown fox", "one two", "x y z x y z").toDF("text")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("declarative pattern is rewritten to the kernel, results identical") {
    assert(enabled)
    val declarative = docs.select(array_distinct(
      TextOps.shingles(TextOps.words(col("text")), 2)).as("s"))
    val optimized = declarative.queryExecution.optimizedPlan.toString
    assert(optimized.contains("shingleSet"),
      s"expected kernel call in:\n$optimized")
    val viaKernel = docs.select(Shingle.shingleSet(col("text"), 2).as("s"))
    assert(declarative.collect().map(_.getSeq[String](0).toList).toSeq ==
      viaKernel.collect().map(_.getSeq[String](0).toList).toSeq)
  }

  test("NULL text still yields [] after the rewrite (CASE semantics kept)") {
    assert(enabled)
    import spark.implicits._
    val dir = tempDir("graft-rwn").toString
    Seq(Some("a b c"), None).toDF("text")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val decl = df.select(array_distinct(
      TextOps.shingles(TextOps.words(col("text")), 2)).as("s"))
    assert(decl.queryExecution.optimizedPlan.toString.contains("shingleSet"))
    val rows = decl.collect().map(r => Option(r.getSeq[String](0)))
    // both rows present, null-text row is an EMPTY array, never null
    assert(rows.length == 2 && rows.forall(_.isDefined))
    assert(rows.map(_.get.toList).sortBy(_.length).toSeq ==
      Seq(Nil, List("a b", "b c")))
  }

  test("near-miss (different joiner) is NOT rewritten") {
    assert(enabled)
    val ws = TextOps.words(col("text"))
    val nearMiss = docs.select(array_distinct(
      when(size(ws) >= 2,
        transform(sequence(lit(1), size(ws) - 1),
          i => concat_ws("-", slice(ws, i, lit(2)))))
        .otherwise(array().cast("array<string>"))).as("s"))
    val optimized = nearMiss.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("shingleSet"))
    // and it still computes the dash-joined variant correctly
    assert(nearMiss.collect()
      .exists(_.getSeq[String](0).contains("a-quick")))
  }
}
