package graft.operators

import java.math.{BigDecimal => BD, RoundingMode}
import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, StructField, StructType}

/** The driver's PCA arithmetic ([[Similarity.powerIterate]],
  * [[Similarity.deflate]]) ≡ the SQL it replaced, which is also the
  * SQL the q110/q111/q114 oracles replay. The reference below is that
  * SQL — matvec, norm and deflation — run by Spark over the same
  * covariance; every `(v, λ₆)` and every deflated matrix must be
  * identical, and where Spark fails the driver must fail too.
  */
class PcaArithmeticSpec extends SparkSpec {

  private val covSchema = StructType(Seq(StructField("p", IntegerType),
    StructField("q", IntegerType), StructField("c", DecimalType(18, 6))))
  private val vSchema = StructType(Seq(StructField("q", IntegerType),
    StructField("v", DecimalType(12, 6))))

  private def covDf(c: Similarity.Cov): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      (for (p <- c.indices; q <- c.indices) yield Row(p, q, c(p)(q))): _*),
      covSchema)

  private def vDf(v: IndexedSeq[BD]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      v.indices.map(q => Row(q, v(q))): _*), vSchema)

  private def matrix(df: DataFrame, dims: Int): Similarity.Cov = {
    val m = Array.ofDim[BD](dims, dims)
    df.collect().foreach(r => m(r.getInt(0))(r.getInt(1)) = r.getDecimal(2))
    m.map(_.toIndexedSeq).toIndexedSeq
  }

  /** The SQL power iteration: one matvec, one norm and one
    * normalization query per iteration. */
  private def sqlPowerIterate(cov: DataFrame, dims: Int, iters: Int)
      : (IndexedSeq[BD], BD) = {
    var v: IndexedSeq[BD] = IndexedSeq.fill(dims)(
      BD.valueOf(Math.round(1e6 / math.sqrt(dims.toDouble)), 6))
    var lam6 = BD.ZERO
    for (_ <- 1 to iters) {
      val u = cov.join(broadcast(vDf(v)), Seq("q"))
        .groupBy(col("p"))
        .agg(round(sum(col("c") * col("v")), 6).cast("decimal(18,6)")
          .as("u"))
        .localCheckpoint()
      val nr = u
        .agg(sqrt(sum(col("u") * col("u")).cast("double")).as("n"),
          round(sqrt(sum(col("u") * col("u")).cast("double")), 6)
            .cast("decimal(18,6)").as("l"))
        .head()
      val nrm = nr.getDouble(0)
      lam6 = nr.getDecimal(1).setScale(6)
      v = u.select(col("p"),
          round(col("u").cast("double") / nrm, 6).cast("decimal(12,6)")
            .as("v"))
        .collect()
        .map(r => r.getInt(0) -> r.getDecimal(1).setScale(6))
        .sortBy(_._1).map(_._2).toIndexedSeq
    }
    (v, lam6)
  }

  /** The SQL deflation `c − round₆(round₆(λ₆·v_p)·v_q)`. */
  private def sqlDeflate(cov: DataFrame, v: IndexedSeq[BD], lam6: BD)
      : DataFrame = {
    val vs = vDf(v)
    cov
      .join(broadcast(vs.select(col("q").as("p"), col("v").as("vp"))),
        Seq("p"))
      .join(broadcast(vs.select(col("q"), col("v").as("vq"))), Seq("q"))
      .select(col("p"), col("q"),
        (col("c") - round(round(lit(lam6) * col("vp"), 6)
          .cast("decimal(18,6)") * col("vq"), 6)
          .cast("decimal(18,6)"))
          .cast("decimal(18,6)").as("c"))
  }

  private def cov(dims: Int)(f: (Int, Int) => Long): Similarity.Cov =
    IndexedSeq.tabulate(dims, dims)((p, q) => BD.valueOf(f(p, q), 6))

  /** Symmetric covariances with entries of `scale` unscaled units,
    * negative ones included. */
  private def generated(dims: Int, seed: Long, scale: Long)
      : Similarity.Cov = {
    val rnd = new scala.util.Random(seed)
    val upper = Array.fill(dims, dims)(
      (rnd.nextDouble() * 2 - 1) * scale).map(_.map(_.toLong))
    cov(dims)((p, q) => upper(math.min(p, q))(math.max(p, q)))
  }

  /** Does HALF_UP rounding to 6 decimals differ from HALF_EVEN on `x`? */
  private def tie(x: BD): Boolean =
    x.setScale(6, RoundingMode.HALF_UP) != x.setScale(6, RoundingMode.HALF_EVEN)

  /** Power-iterate and deflate through `components` components on both
    * sides; every step must agree exactly. */
  private def agree(c0: Similarity.Cov, iters: Int, components: Int)
      : Unit = {
    var c = c0
    for (comp <- 0 until components) {
      val (v, lam6) = Similarity.powerIterate(c, iters)
      assert(sqlPowerIterate(covDf(c), c.size, iters) == ((v, lam6)),
        s"component $comp")
      val d = Similarity.deflate(c, v, lam6)
      assert(matrix(sqlDeflate(covDf(c), v, lam6), c.size) == d,
        s"deflation after component $comp")
      c = d
    }
  }

  /** Odd row sums at dims 4 (v₀ = 0.5) put every first-iteration
    * matvec on a …5 boundary at the 7th decimal, each rounding away
    * from an even digit. */
  private val boundary4 = cov(4)((p, q) =>
    if (p == q) 400000L * (p + 1) else if (p + q == 3) -3L else 2L)

  test("the boundary input really sits on HALF_UP/HALF_EVEN ties") {
    val v0 = BD.valueOf(500000L, 6)
    assert(boundary4.exists(row =>
      tie(row.foldLeft(BD.ZERO)((s, c) => s.add(c.multiply(v0))))))
  }

  test("power iteration and deflation match SQL on a …5 boundary") {
    agree(boundary4, iters = 3, components = 2)
  }

  test("deflation matches SQL where λ₆·v_p and its ·v_q sit on ties") {
    val v = IndexedSeq(1L, 3L, -5L, 1000000L).map(BD.valueOf(_, 6))
    val lam6 = BD.valueOf(500000L, 6)
    assert(tie(lam6.multiply(v(0))))           // round₆(λ₆·v_p)
    assert(tie(lam6.multiply(v(3)).multiply(v(2)))) // round₆(·v_q)
    val c = generated(4, seed = 7, scale = 1000000L)
    assert(matrix(sqlDeflate(covDf(c), v, lam6), 4) ==
      Similarity.deflate(c, v, lam6))
  }

  for (dims <- Seq(1, 4, 64); (scale, seed) <- Seq(9L -> 1L,
      1000L -> 2L, 1000000000L -> 3L, 100000000000000L -> 4L))
    test(s"driver ≡ SQL on a generated $dims×$dims covariance, " +
        s"entries within ±$scale units (seed $seed)") {
      // at dims 1 deflation zeroes a positive matrix: one component
      agree(generated(dims, seed, scale), iters = 3,
        components = if (dims == 1) 1 else 2)
    }

  test("an all-zero covariance fails on both sides (zero norm)") {
    val z = cov(4)((_, _) => 0L)
    intercept[Exception](sqlPowerIterate(covDf(z), 4, 1))
    intercept[ArithmeticException](Similarity.powerIterate(z, 1))
  }

  test("a matvec overflowing decimal(18,6) fails on both sides") {
    val big = cov(4)((_, _) => 999999999999999999L)
    intercept[Exception](sqlPowerIterate(covDf(big), 4, 1))
    intercept[ArithmeticException](Similarity.powerIterate(big, 1))
  }
}
