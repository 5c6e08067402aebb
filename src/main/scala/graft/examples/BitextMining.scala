package graft.examples

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end bitext mining — the LASER/CCMatrix pipeline (Artetxe &
  * Schwenk 2019; Schwenk et al. 2021) composed from the library's
  * bounded operators, the way the classifier family has
  * ClassifierEvalReport:
  *
  *   1. candidates  — cross-corpus sign-LSH bucket pairs
  *                    ([[Similarity.lshCrossPairs]]: `tables`
  *                    equi-joins, never |L|·|R|)
  *   2. mutual gate — reciprocal top-1 WITHIN candidates
  *                    ([[Similarity.mutualNearestNeighborsFromCandidates]])
  *   3. margins     — hubness-corrected scores within candidates
  *                    ([[Similarity.marginMiningScoresFromCandidates]],
  *                    exact integer micro units)
  *   4. threshold   — keep pairs that are BOTH mutual and above the
  *                    margin floor, the CCMatrix acceptance rule
  *
  * The whole flow is one lazy DataFrame program; every stage is
  * candidate-frame-bounded, so the pipeline's 100 TB cost is the LSH
  * bucket joins plus candidate-sized windows — nothing quadratic.
  *
  * Output: `(left_id, right_id, sim_micro, margin_micro, mutual)` for
  * every margin-scored top-1 pair at/above `marginFloorMicro`, mined
  * pairs first (mutual desc), then by margin descending.
  *
  * CONTRACT: ids in BOTH corpora must be NON-NEGATIVE. The mutual
  * stage folds the two id spaces into one by mapping right ids to
  * `−id−1` (so "negative = right corpus" drives pair orientation); a
  * genuinely negative left id would collide with a mapped right id
  * and silently mis-orient pairs. The mapping stage asserts this per
  * row (a codegen'd `assert_true`, free in the scan).
  */
object BitextMining {

  /** Geometry calibration for [[mine]]: measure the default ladder
    * around mine()'s (6, 4) geometry on a corpus sample and report
    * which configs clear `recallFloorPpm` at what candidate cost —
    * run this BEFORE committing a geometry to a 100 TB mining job
    * (PLANS.md round 11 measured 6×4 losing under 64 clusters while 6×8
    * wins; the knob is corpus-dependent, so measure, don't guess).
    * Pick the cheapest passing row's (tables, planes) for [[mine]].
    */
  def calibrate(left: DataFrame, right: DataFrame,
      dims: Int = 64, sampleMod: Int = 2,
      recallFloorPpm: Long = 500000L,
      configs: Seq[(Int, Int)] = Seq((2, 4), (6, 4), (6, 8)),
      idCol: String = "vec_id", embCol: String = "embedding")
      : DataFrame =
    Similarity.calibrateLshGeometry(left, right, configs, dims,
      sampleMod, recallFloorPpm, idCol, embCol)

  def mine(left: DataFrame, right: DataFrame,
      k: Int = 3,
      tables: Int = 6, planesPerTable: Int = 4, dims: Int = 64,
      marginFloorMicro: Long = 0L,
      idCol: String = "vec_id", embCol: String = "embedding")
      : DataFrame = {
    // 1. bounded candidate generation (shared by both scoring stages —
    // localCheckpoint so the bucket joins run once)
    val cand = Similarity.lshCrossPairs(left, right, tables,
      planesPerTable, dims, idCol, embCol).localCheckpoint()

    // 2. reciprocal top-1 within candidates. The mutual operator works
    // on ONE id space and cross-corpus ids may collide numerically, so
    // the right corpus is sign-separated (id → −id−1) in both the
    // embedding union and the pair frame; the a < b orientation then
    // always puts the (negative) right id in `a`, re-split on output.
    // Enforce the non-negative-id contract inline: a negative source
    // id would alias a mapped right id and mis-orient pairs silently.
    def nonNeg(c: org.apache.spark.sql.Column) =
      when(c >= 0, c).otherwise(raise_error(concat(
        lit("BitextMining requires non-negative ids, got "),
        c.cast("string"))))
    val mutual = Similarity.mutualNearestNeighborsFromCandidates(
        cand.select(nonNeg(col("left_id")).as("da"),
          (-nonNeg(col("right_id")) - 1).as("db")),
        left.select(nonNeg(col(idCol)).as(idCol), col(embCol)).unionAll(
          right.select(-nonNeg(col(idCol)) - 1, col(embCol))),
        idCol, embCol)
      .select(col("b").as("left_id"), (-col("a") - 1).as("right_id"))

    // 3. margin scores within the same candidates
    val margins = Similarity.marginMiningScoresFromCandidates(
      cand, left, right, k, idCol, embCol)

    // 4. acceptance: margin floor + the mutual flag
    margins
      .join(mutual.withColumn("mutual", lit(true)),
        Seq("left_id", "right_id"), "left")
      .select(col("left_id"), col("right_id"), col("sim_micro"),
        col("margin_micro"),
        coalesce(col("mutual"), lit(false)).as("mutual"))
      .where(col("margin_micro") >= marginFloorMicro)
      .orderBy(col("mutual").desc, col("margin_micro").desc,
        col("left_id"))
  }
}
