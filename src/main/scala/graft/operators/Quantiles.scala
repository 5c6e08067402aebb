package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution sketching: fixed-bin histogram quantile BOUNDS — the
  * scale path for percentiles. The exact sort-based `percentile`
  * (catalog q44) needs a per-group global sort; a fixed-bin histogram
  * is one `groupBy(bin)` whose map-side combine collapses every task
  * to ≤ `bins` cells (the count-min/HLL shuffle argument), is
  * MERGEABLE across batches (cell-wise add — same lifecycle as the
  * HLL registers), and brackets any quantile to a bin of width
  * `(hi − lo)/bins` — at 256 bins, ~0.4 % of the value range.
  *
  * This is the honest equi-width contract, stated precisely (the
  * first cut overstated it and a scale A/B caught the violation —
  * PLANS.md round 9, "sketch-family scale A/Bs"):
  * the band of pct p contains the `ceil(p·n/100)`-th ORDER STATISTIC
  * — the type-1 / lower exact quantile — up to one IEEE ulp of the
  * edge expression (the order stat was ASSIGNED its bin by the same
  * floor arithmetic; only re-deriving the edge can wobble an ulp).
  * The INTERPOLATED (type-7, `percentile`/`quantile_cont`) quantile
  * averages toward the NEXT order statistic and can therefore exceed
  * the band by up to one inter-value gap — measured in that A/B,
  * where the interpolated median of a 2-valued straddle lands 0.0005
  * above the selected bin's edge. Spec and harness pin the type-1
  * containment. Resolution is in value-range units, not rank units
  * (heavy skew into one bin widens the effective rank resolution —
  * use a second refinement pass over the one hot bin when rank
  * precision matters; KLL/t-digest trade this simplicity for rank
  * guarantees).
  *
  * Numeric determinism: bin assignment is `floor((x − lo)·bins /
  * (hi − lo))` — pure IEEE ·,−,/ on identical expressions, exact in
  * both engines (no round-half decimal boundary anywhere); target
  * ranks are the pure-integer `ceil(n·pct/100) = (n·pct + 99) div
  * 100`; bounds are single-expression double arithmetic.
  */
object Quantiles {

  /** Quantile bounds for integer percentages `pcts` of `valCol`.
    * Output: `(pct, est_lo, est_hi)` ordered by pct — the exact
    * quantile lies within the (closed) band.
    *
    * Two scans (range pre-pass + histogram), both map-side-combined;
    * everything after is bins-sized.
    */
  def histogramQuantiles(df: DataFrame, valCol: String,
      bins: Int = 256, pcts: Seq[Int] = Seq(25, 50, 75, 99)): DataFrame = {
    require(bins >= 2 && pcts.nonEmpty &&
      pcts.forall(p => p >= 1 && p <= 100))
    val spark = df.sparkSession
    val v = df.filter(col(valCol).isNotNull)
      .select(col(valCol).cast("double").as("x"))
    val rg = v.agg(min(col("x")).as("lo"), max(col("x")).as("hi"),
      count(lit(1)).as("n"))
    val hb = v.crossJoin(broadcast(rg))
      .select(when(col("hi") === col("lo"), lit(0L))
        .otherwise(least(lit((bins - 1).toLong), greatest(lit(0L),
          floor((col("x") - col("lo")) * bins / (col("hi") - col("lo")))
            .cast("long")))).as("bin"))
    val h = hb.groupBy(col("bin")).agg(count(lit(1)).as("c"))
    // bins-bounded single-partition window — deliberately tiny
    val cu = h.withColumn("cum",
      sum(col("c")).over(Window.orderBy(col("bin"))))
    val pr = spark.createDataFrame(pcts.map(Tuple1(_))).toDF("pct")
    val t = pr.crossJoin(broadcast(rg))
      .select(col("pct"), expr("(n * pct + 99) div 100").as("tgt"))
    val sel = cu.join(broadcast(t), col("cum") >= col("tgt"))
      .groupBy(col("pct")).agg(min(col("bin")).as("bin"))
    sel.crossJoin(broadcast(rg))
      .select(col("pct").cast("bigint").as("pct"),
        (col("lo") + col("bin") * (col("hi") - col("lo")) / lit(bins))
          .as("est_lo"),
        (col("lo") +
          (col("bin") + 1) * (col("hi") - col("lo")) / lit(bins))
          .as("est_hi"))
      .orderBy(col("pct"))
  }

  /** Per-group winsorization at EXACT order statistics — the standard
    * outlier-clipping normalization of a training-data feature
    * pipeline (Dixon 1960). Clip bounds are the `ceil(p·n/100)`-th
    * order statistics (type-1 quantiles, the same pure-integer rank
    * arithmetic as [[histogramQuantiles]]); every value is clipped
    * into [lo, hi] and the group is summarized.
    *
    * Output per group: `n_rows`, `lo`, `hi`, `n_clip_lo`, `n_clip_hi`
    * (exact BIGINT clip counts) and `sum_clip` (exact-decimal sum of
    * clipped values — lo/hi/values are all STORED column values, so
    * 2-decimal casting is lossless and the sum associative).
    *
    * Scale contract: exact order statistics need a per-group sort —
    * one window sort partitioned by the group columns (shuffle on the
    * group key, sort within). Honest caveat: a FEW huge groups
    * serialize into few tasks (the exact-percentile cost class); when
    * rank exactness isn't required at 100 TB, compose
    * [[histogramQuantiles]] bounds as approximate clip points instead
    * (bins-bounded shuffle, no per-group sort). Ties need no id
    * tie-break: row_number among equal values selects the same VALUE
    * at rank k whatever the intra-tie order.
    */
  def winsorizeStats(df: DataFrame, groupCols: Seq[String],
      valCol: String, loPct: Int = 5, hiPct: Int = 95): DataFrame = {
    require(loPct >= 1 && hiPct <= 100 && loPct < hiPct,
      s"bad winsorize percentiles [$loPct, $hiPct]")
    val gcols = groupCols.map(col)
    val g = Window.partitionBy(gcols: _*)
    val v = col(valCol)
    val ranked = df.select(gcols :+ v.as("v"): _*)
      .filter(col("v").isNotNull)
      .withColumn("rn", row_number().over(g.orderBy(col("v"))))
      .withColumn("n", count(lit(1)).over(g))
      .withColumn("k_lo", expr(s"(n * $loPct + 99) div 100"))
      .withColumn("k_hi", expr(s"(n * $hiPct + 99) div 100"))
    val bounded = ranked
      .withColumn("lo",
        max(when(col("rn") === col("k_lo"), col("v"))).over(g))
      .withColumn("hi",
        max(when(col("rn") === col("k_hi"), col("v"))).over(g))
    bounded.groupBy(gcols: _*).agg(
      count(lit(1)).as("n_rows"),
      min(col("lo")).as("lo"),
      min(col("hi")).as("hi"),
      sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
      sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
      sum(least(greatest(col("v"), col("lo")), col("hi"))
        .cast("decimal(12,2)")).cast("double").as("sum_clip"))
  }

  /** Per-group quantile (rank) normalization to exact integer ppm —
    * the distribution-free feature rescaling of a training pipeline
    * (each value maps to its empirical quantile, so downstream
    * consumers see a uniform [0, 1] feature whatever the raw
    * distribution): `q_ppm = (rank−1)·10⁶ div (n−1)` with rank the
    * deterministic `(value, id)` row_number. Singleton groups map to
    * the midpoint 500000 (documented convention — no spread to rank
    * within). NULL values are excluded (the winsorizeStats
    * convention). All arithmetic is integer — engine-identical.
    *
    * Scale: one window shuffle on the group key; rank windows
    * serialize per group like any exact order statistic (the
    * winsorizeStats caveat) — normalize within strata, not globally,
    * at 100 TB.
    */
  /** Per-group ROBUST z-scores (Hampel-style): `(x − median)·1000 div
    * MAD` in exact integer milli over exact cents — the outlier-proof
    * twin of mean/σ standardization (one spike moves a mean/σ z for
    * EVERY row; median/MAD ignore it). Median and MAD are type-1
    * order statistics (the winsorizeStats rank arithmetic); groups
    * with MAD = 0 yield null z (no spread to scale by — documented,
    * matching zScores' σ=0 convention). NULLs excluded. Two ranking
    * windows on the same group key (median pass, then deviation
    * pass) — the exact-order-statistic cost class; use histogram
    * bounds at 100 TB when rank exactness isn't required.
    * Output: `(groupCols…, idCol, valCol, robust_z_milli)`.
    */
  def robustZ(df: DataFrame, groupCols: Seq[String], valCol: String,
      idCol: String): DataFrame = {
    val gcols = groupCols.map(col)
    val g = Window.partitionBy(gcols: _*)
    val base = df.filter(col(valCol).isNotNull)
      .select(gcols ++ Seq(col(idCol), col(valCol),
        (col(valCol).cast("decimal(18,2)") * 100).cast("bigint")
          .as("_cents")): _*)
    val med = base
      .withColumn("_rn", row_number().over(
        g.orderBy(col("_cents"), col(idCol))))
      .withColumn("_n", count(lit(1)).over(g))
      .withColumn("_med", max(when(
        col("_rn") === expr("(_n + 1) div 2"), col("_cents"))).over(g))
      .withColumn("_dev", abs(col("_cents") - col("_med")))
    med
      .withColumn("_rd", row_number().over(
        g.orderBy(col("_dev"), col(idCol))))
      .withColumn("_mad", max(when(
        col("_rd") === expr("(_n + 1) div 2"), col("_dev"))).over(g))
      .select(gcols ++ Seq(col(idCol), col(valCol),
        when(col("_mad") > 0,
          expr("((_cents - _med) * 1000) div _mad"))
          .as("robust_z_milli")): _*)
  }

  /** Weighted type-1 median per group, exact: the SMALLEST value
    * whose cumulative weight reaches half the total
    * (`2·cumw(v) ≥ W`) — "the price at which half the shipped
    * QUANTITY sits below", the volume-weighted twin of the plain
    * median. Values in exact cents, weights integral; the scan runs
    * over the per-group DISTINCT-value frame (values grouped first —
    * the ksDistance contract), so no row-frame sort exists.
    *
    * Output: `(groupCols…, total_w, median_cents)`.
    */
  def weightedMedian(df: DataFrame, groupCols: Seq[String],
      valCol: String, weightCol: String): DataFrame = {
    val gcols = groupCols.map(col)
    val g1 = df
      .filter(col(valCol).isNotNull && col(weightCol).isNotNull)
      .select(gcols :+ round(col(valCol) * 100).cast("bigint").as("_v")
        :+ col(weightCol).cast("bigint").as("_w"): _*)
      .groupBy(gcols :+ col("_v"): _*)
      .agg(sum(col("_w")).as("_w"))
    val w = Window.partitionBy(gcols: _*).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = g1.groupBy(gcols: _*).agg(sum(col("_w")).as("total_w"))
    g1.withColumn("_cw", sum(col("_w")).over(w))
      .join(tot, groupCols)
      .filter(col("_cw") * 2 >= col("total_w"))
      .groupBy(gcols :+ col("total_w"): _*)
      .agg(min(col("_v")).as("median_cents"))
      .select(gcols :+ col("total_w") :+ col("median_cents"): _*)
  }

  def rankNormalize(df: DataFrame, groupCols: Seq[String],
      valCol: String, idCol: String): DataFrame = {
    val gcols = groupCols.map(col)
    val g = Window.partitionBy(gcols: _*)
    df.filter(col(valCol).isNotNull)
      .select(gcols ++ Seq(col(idCol), col(valCol)): _*)
      .withColumn("rn", row_number().over(
        g.orderBy(col(valCol), col(idCol))))
      .withColumn("n", count(lit(1)).over(g))
      .withColumn("q_ppm",
        when(col("n") > 1, expr("((rn - 1) * 1000000) div (n - 1)"))
          .otherwise(lit(500000L)))
      .drop("rn", "n")
  }
}
