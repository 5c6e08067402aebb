package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pure range joins (NO equi key): point-in-interval pairing where
  * Spark's planner has only a nested-loop/cartesian physical choice —
  * q10's shape minus the equi key that saves it. The binned rewrite
  * turns the theta join into an EQUI join on overlapping time bins:
  * each point keys to its one bin, each interval explodes into the
  * ⌈len/binDays⌉+1 bins it touches, the bin equi-join generates
  * candidates (each pair exactly once — a point lives in ONE bin),
  * and the exact between-filter keeps real containments.
  *
  * Scale contract: the nested loop is |points|·|intervals| work on one
  * broadcast side; the binned join's work is Σ_interval (len/binDays
  * + 1) candidate fan-out, hash-partitioned on the bin key — the
  * shuffle-parallel shape that survives a 100× scale-up. Choose
  * binDays ≈ the median interval length (fan-out ~2 bins/interval);
  * PLANS.md round 10 (q186) records the measured crossover.
  */
object RangeJoin {

  /** Pair every point row with every interval row whose
    * `[startCol, endCol]` (inclusive, DATE granularity) contains the
    * point's date. `naive = true` keeps the theta-join formulation
    * (the A/B twin — same output, nested-loop plan).
    */
  def pointInInterval(points: DataFrame, ptCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      binDays: Int = 2, naive: Boolean = false): DataFrame = {
    val contained =
      to_date(col(ptCol)) >= col(startCol) &&
      to_date(col(ptCol)) <= col(endCol)
    if (naive) points.join(intervals, contained)
    else {
      require(binDays >= 1, "binDays must be >= 1")
      val p = points.withColumn("_bin",
        expr(s"datediff(to_date($ptCol), date'1970-01-01') " +
          s"div $binDays"))
      val iv = intervals.withColumn("_bin", explode(sequence(
        expr(s"datediff($startCol, date'1970-01-01') div $binDays"),
        expr(s"datediff($endCol, date'1970-01-01') div $binDays"))))
      p.join(iv, Seq("_bin")).filter(contained).drop("_bin")
    }
  }

  /** Merge overlapping/touching intervals per key (the gaps-and-
    * islands union): intervals sorted by start; a new island opens
    * exactly where a start exceeds the running max of prior ends
    * (`s > max(e) over preceding`), island id = prefix count of
    * openings, merged bounds by one grouped min/max. The classic
    * declarative form — two shared-partition windows + one
    * aggregation, all on the key (one shuffle); works for validity
    * windows, IP ranges, activity periods (points ∪ fixed windows =
    * sessionization by overlap).
    *
    * Touching counts as connected (`s ≤ prior end` merges; strictly
    * greater opens). Output: `(key, island, s, e, n_merged)` with
    * `island` the 1-based per-key island ordinal.
    */
  def mergeIntervals(df: DataFrame, keyCol: String, startCol: String,
      endCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wPrev = Window.partitionBy(col(keyCol))
      .orderBy(col(startCol), col(endCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPre = Window.partitionBy(col(keyCol))
      .orderBy(col(startCol), col(endCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    df.filter(col(startCol).isNotNull && col(endCol).isNotNull)
      .withColumn("_pmax", max(col(endCol)).over(wPrev))
      .withColumn("_open",
        when(col("_pmax").isNull ||
          col(startCol) > col("_pmax"), 1L).otherwise(0L))
      .withColumn("island", sum(col("_open")).over(wPre))
      .groupBy(col(keyCol), col("island"))
      .agg(min(col(startCol)).as("s"), max(col(endCol)).as("e"),
        count(lit(1)).as("n_merged"))
      .orderBy(col(keyCol), col("island"))
  }
}
