package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Native fused assignment kernels ≡ the declarative fan-out +
  * `min_by`/`max_by` shapes they replaced (round 20): the kernels are
  * the per-row evaluators of every centroid-assignment site
  * ([[graft.operators.Similarity.assignCells]], the PQ code
  * assignments, the Lloyd iterations, the drift distortion probe), so
  * bit-identical scores and tie order are the whole correctness
  * argument. The declarative twins are reconstructed inline here,
  * exactly as the sites were written before the fusion.
  */
class ArgKernelSpec extends SparkSpec {

  private def dot(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) = Vectors.dot(a, b)

  /** The pre-fusion assignCells: ×nCentroids fan-out + max_by over
    * struct(csim, -cen_id). */
  private def declarativeCells(c: DataFrame, cen: DataFrame)
      : DataFrame = {
    val cenD = cen.withColumn("_cend", col("cen_e").cast("array<double>"))
    c.join(broadcast(cenD), lit(true))
      .select(col("id"), col("cen_id"),
        round(dot(col("_ed"), col("_cend")) /
          (col("nrm") * col("cen_nrm")), 6).as("csim"))
      .groupBy(col("id"))
      .agg(max_by(col("cen_id"),
        struct(col("csim"), (-col("cen_id")).as("nid"))).as("cell"))
  }

  /** The kernel path, via the packed one-row centroid frame (the
    * assignCells shape). */
  private def kernelCells(c: DataFrame, cen: DataFrame): DataFrame = {
    val packed = cen
      .select(col("cen_id"), col("cen_e").cast("array<double>").as("cv"),
        col("cen_nrm").as("cnrm"))
      .agg(collect_list(struct(col("cen_id"), col("cv"), col("cnrm")))
        .as("cs"))
      .select(
        transform(col("cs"), x => x.getField("cen_id")).as("cen_ids"),
        transform(col("cs"), x => x.getField("cv")).as("cvs"),
        transform(col("cs"), x => x.getField("cnrm")).as("cnrms"))
    c.join(broadcast(packed), lit(true))
      .where(size(col("cen_ids")) > 0)
      .select(col("id"),
        Vectors.bestCellCosine(col("_ed"), col("nrm"),
          col("cen_ids"), col("cvs"), col("cnrms")).as("cell"))
  }

  /** The pre-fusion PQ assignment: fan-out + min_by over
    * struct(dist2, cen_id). */
  private def declarativeCodes(s: DataFrame, cen: DataFrame)
      : DataFrame =
    s.join(broadcast(cen), Seq("j"))
      .select(col("id"), col("j"), col("cen_id"),
        round(dot(col("sv"), col("sv")) - dot(col("sv"), col("cv")) * 2
          + dot(col("cv"), col("cv")), 6).as("dist2"))
      .groupBy(col("id"), col("j"))
      .agg(min_by(col("cen_id"),
        struct(col("dist2"), col("cen_id"))).as("code"),
        min(col("dist2").cast("decimal(20,6)")).as("mind"))

  private def kernelCodes(s: DataFrame, cen: DataFrame): DataFrame = {
    val packed = cen
      .select(col("j"), col("cen_id"), col("cv"))
      .withColumn("cvv", Vectors.dot(col("cv"), col("cv")))
      .groupBy(col("j"))
      .agg(collect_list(struct(col("cen_id"), col("cv"), col("cvv")))
        .as("cs"))
      .select(col("j"),
        transform(col("cs"), x => x.getField("cen_id")).as("cen_ids"),
        transform(col("cs"), x => x.getField("cv")).as("cvs"),
        transform(col("cs"), x => x.getField("cvv")).as("cvvs"))
    s.join(broadcast(packed), Seq("j"))
      .select(col("id"), col("j"),
        Vectors.bestCodeL2(col("sv"), col("cen_ids"),
          col("cvs"), col("cvvs")).as("code"),
        Vectors.minCodeDistL2(col("sv"), col("cvs"), col("cvvs"))
          .cast("decimal(20,6)").as("mind"))
  }

  private def embs: DataFrame =
    graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  test("cosine argmax kernel ≡ declarative max_by on real embeddings") {
    val c = embs.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("_ed"))
      .withColumn("nrm", sqrt(dot(col("_ed"), col("_ed"))))
    val cen = embs.orderBy(col("vec_id")).limit(8)
      .select(col("vec_id").as("cen_id"), col("embedding").as("cen_e"))
      .withColumn("cen_nrm", sqrt(dot(
        col("cen_e").cast("array<double>"),
        col("cen_e").cast("array<double>"))))
    val d = declarativeCells(c, cen).withColumnRenamed("cell", "d")
    val k = kernelCells(c, cen).withColumnRenamed("cell", "k")
    assert(d.join(k, "id").where(col("d") =!= col("k")).count() == 0)
    assert(d.count() == k.count())
  }

  test("cosine argmax: exact ties break to the lowest cen_id") {
    import spark.implicits._
    // two centroids with IDENTICAL vectors (ids 7 and 3) — every
    // candidate ties; both paths must pick 3
    val c = Seq((1L, Seq(1.0, 2.0, 3.0)), (2L, Seq(-1.0, 0.5, 2.0)))
      .toDF("id", "_ed")
      .withColumn("_ed", col("_ed").cast("array<double>"))
      .withColumn("nrm", sqrt(dot(col("_ed"), col("_ed"))))
    val cen = Seq((7L, Seq(0.5, 0.5, 0.5)), (3L, Seq(0.5, 0.5, 0.5)))
      .toDF("cen_id", "cen_e")
      .withColumn("cen_nrm", sqrt(dot(
        col("cen_e").cast("array<double>"),
        col("cen_e").cast("array<double>"))))
    val d = declarativeCells(c, cen).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val k = kernelCells(c, cen).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == k)
    assert(k.values.forall(_ == 3L))
  }

  test("L2 argmin kernel ≡ declarative min_by (codes AND min dist)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20)
    // random subvectors + codebook, including a duplicated centroid
    // pair (exact tie) and near-boundary values
    val s = (1 to 300).map { i =>
      (i.toLong, rnd.nextInt(4).toLong,
        Seq.fill(8)(math.rint(rnd.nextGaussian() * 1e4) / 1e4))
    }.toDF("id", "j", "sv")
      .withColumn("sv", col("sv").cast("array<double>"))
    val cenRows = (0 until 4).flatMap { j =>
      val base = (1 to 6).map { c =>
        (j.toLong, c.toLong * 10,
          Seq.fill(8)(math.rint(rnd.nextGaussian() * 1e4) / 1e4))
      }
      // duplicate centroid under a HIGHER id: tie must keep the lower
      base :+ ((j.toLong, 99L, base.head._3))
    }
    val cen = cenRows.toDF("j", "cen_id", "cv")
      .withColumn("cv", col("cv").cast("array<double>"))
    val d = declarativeCodes(s, cen)
      .withColumnRenamed("code", "dc").withColumnRenamed("mind", "dm")
    val k = kernelCodes(s, cen)
      .withColumnRenamed("code", "kc").withColumnRenamed("mind", "km")
    val j = d.join(k, Seq("id", "j"))
    assert(j.where(col("dc") =!= col("kc")).count() == 0)
    assert(j.where(col("dm") =!= col("km")).count() == 0)
    assert(d.count() == k.count())
  }

  test("null propagation and empty-centroid guard") {
    import spark.implicits._
    val c = Seq((1L, Option.empty[Seq[Double]]))
      .toDF("id", "_ed")
      .withColumn("_ed", col("_ed").cast("array<double>"))
      .withColumn("nrm", lit(1.0))
    val cen = Seq((3L, Seq(0.5, 0.5))).toDF("cen_id", "cen_e")
      .withColumn("cen_nrm", lit(1.0))
    // null embedding → null kernel output (propagateNull)
    val out = kernelCells(c, cen).collect()
    assert(out.length == 1 && out.head.isNullAt(1))
    // empty centroid table → zero assignment rows (inner-join shape)
    val empty = cen.where(lit(false))
    assert(kernelCells(c, empty).count() == 0)
  }

  test("cosine argmax skips null centroid vectors and norms") {
    import spark.implicits._
    val c = Seq((1L, Seq(1.0, 2.0, 3.0)), (2L, Seq(-1.0, 0.5, 2.0)))
      .toDF("id", "_ed")
      .withColumn("_ed", col("_ed").cast("array<double>"))
      .withColumn("nrm", sqrt(dot(col("_ed"), col("_ed"))))
    // ids 1 and 2 would win the lowest-id tie against 3 if they were
    // scored; 1 has no vector, 2 no norm — both must be skipped
    val cen = Seq[(Long, Option[Seq[Double]], Option[Double])](
        (1L, None, Some(1.0)),
        (2L, Some(Seq(0.5, 0.5, 0.5)), None),
        (3L, Some(Seq(0.5, 0.5, 0.5)), Some(math.sqrt(0.75))),
        (9L, Some(Seq(-1.0, 0.0, 0.0)), Some(1.0)))
      .toDF("cen_id", "cen_e", "cen_nrm")
    val k = kernelCells(c, cen).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the max_by twin orders a null csim below every score
    val d = declarativeCells(c, cen).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k == d)
    assert(k == Map(1L -> 3L, 2L -> 9L))
    // no non-null centroid at all: as loud as an empty table
    val e = intercept[Exception](
      kernelCells(c, cen.where(col("cen_id") < 3)).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage)
        .contains("every packed centroid is null")), e.toString)
  }

  test("L2 argmin and min distance skip null centroid vectors and cvvs") {
    import spark.implicits._
    // sv = (1, 0). Centroid 1 has no vector and centroid 2 no cvv; if
    // either were scored (a null cvv read as 0 gives d2 = -1) it would
    // beat centroid 3 (d2 = 0); centroid 4 has d2 = 2.
    val packed = Seq((1L, Seq(1.0, 0.0), Seq(1L, 2L, 3L, 4L),
        Seq[Seq[Double]](null, Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0)),
        Seq[Option[Double]](Some(0.0), None, Some(1.0), Some(1.0))))
      .toDF("id", "sv", "cen_ids", "cvs", "cvvs")
    val got = packed.select(
        Vectors.bestCodeL2(col("sv"), col("cen_ids"), col("cvs"),
          col("cvvs")),
        Vectors.minCodeDistL2(col("sv"), col("cvs"), col("cvvs")))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((3L, 0.0)))
    // the declarative twin over the non-null centroids agrees
    val s = Seq((1L, 0L, Seq(1.0, 0.0))).toDF("id", "j", "sv")
    val cen = Seq((0L, 3L, Seq(1.0, 0.0)), (0L, 4L, Seq(0.0, 1.0)))
      .toDF("j", "cen_id", "cv")
    val d = declarativeCodes(s, cen).select(col("code"),
      col("mind").cast("double")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(d == got)
  }
}
