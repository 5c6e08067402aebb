package graft.queries

import graft.operators.Intervals
import org.apache.spark.sql.functions._

/** Round-11 continuation 4 (q267+): interval sweep-line analytics —
  * per-key peak concurrency, union-coverage islands, and the two-phase
  * global daily-concurrency series (no corpus-sized unpartitioned
  * window; see Intervals scaladoc for the 100-TB contract).
  *
  * The TPC-H-ish tables carry single dates, so each row derives its
  * inclusive [start, end] interval deterministically from its keys
  * (ship date + key-dependent transit days) — the q264 decoration
  * pattern: the operator input is a genuine interval frame, and the
  * oracle replays the same derivation.
  */
object Round11d {
  /** lineitem → (l_suppkey, s, e): ship date + (orderkey+linenumber)%14
    * transit days, inclusive. */
  private def transit(s: org.apache.spark.sql.SparkSession, dir: String) =
    t("lineitem")(s, dir).select(col("l_suppkey"),
      to_date(col("l_shipdate")).as("s"),
      date_add(to_date(col("l_shipdate")),
        ((col("l_orderkey") + col("l_linenumber")) % 14).cast("int"))
        .as("e"))

  private val oTransit: String =
    """iv AS (SELECT l_suppkey, CAST(l_shipdate AS DATE) AS s,
      |    CAST(l_shipdate AS DATE)
      |      + CAST((l_orderkey + l_linenumber) % 14 AS INT) AS e
      |  FROM lineitem)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- peak concurrency per supplier: max simultaneously
    // in-transit lineitems, and the FIRST day the peak is reached.
    // Sweep-line with per-(key, day) delta netting — within-day
    // open/close ordering can never matter — then one per-key
    // cumulative window over boundary days (per-key-bounded).
    QueryDef("q267_peak_concurrency",
      (s, dir) => Intervals.maxConcurrency(
          transit(s, dir), "l_suppkey", "s", "e")
        .orderBy(col("l_suppkey")),
      Some(s"""WITH $oTransit,
              |ev AS (
              |  SELECT l_suppkey, s AS day, 1 AS d FROM iv
              |  UNION ALL
              |  SELECT l_suppkey, e + 1, -1 FROM iv),
              |del AS (SELECT l_suppkey, day,
              |    CAST(SUM(d) AS BIGINT) AS delta
              |  FROM ev GROUP BY 1, 2),
              |c AS (SELECT l_suppkey, day, CAST(SUM(delta) OVER (
              |    PARTITION BY l_suppkey ORDER BY day) AS BIGINT) AS conc
              |  FROM del),
              |p AS (SELECT l_suppkey, MAX(conc) AS peak
              |  FROM c GROUP BY 1)
              |SELECT c.l_suppkey, CAST(p.peak AS BIGINT) AS peak,
              |  MIN(c.day) AS peak_day
              |FROM c JOIN p ON c.l_suppkey = p.l_suppkey
              |  AND c.conc = p.peak
              |GROUP BY c.l_suppkey, p.peak
              |ORDER BY c.l_suppkey""".stripMargin)),

    // ---- union coverage per supplier: overlapping-or-adjacent
    // in-transit intervals merged into contiguous busy islands
    // (a gap = ≥1 idle calendar day); per key: interval count,
    // island count, distinct covered days, longest island. Duplicate
    // intervals pre-aggregated so the island windows see a TOTAL
    // order — a tied ROWS frame is engine-nondeterministic (observed
    // in DuckDB 1.0; Intervals.unionCoverage scaladoc).
    QueryDef("q268_interval_islands",
      (s, dir) => Intervals.unionCoverage(
          transit(s, dir), "l_suppkey", "s", "e")
        .orderBy(col("l_suppkey")),
      Some(s"""WITH $oTransit,
              |ivi AS (SELECT l_suppkey,
              |    DATEDIFF('day', DATE '1970-01-01', s) AS si,
              |    DATEDIFF('day', DATE '1970-01-01', e) AS ei,
              |    COUNT(*) AS cnt
              |  FROM iv GROUP BY 1, 2, 3),
              |f AS (SELECT l_suppkey, si, ei, cnt, MAX(ei) OVER (
              |    PARTITION BY l_suppkey ORDER BY si, ei
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              |    AS prev_max FROM ivi),
              |g AS (SELECT l_suppkey, si, ei, cnt,
              |    CASE WHEN prev_max IS NULL
              |    OR si > prev_max + 1 THEN 1 ELSE 0 END AS isn FROM f),
              |h AS (SELECT l_suppkey, si, ei, cnt, SUM(isn) OVER (
              |    PARTITION BY l_suppkey ORDER BY si, ei
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |    AS island FROM g),
              |isl AS (SELECT l_suppkey, island, SUM(cnt) AS n_iv,
              |    MIN(si) AS i_s, MAX(ei) AS i_e
              |  FROM h GROUP BY 1, 2)
              |SELECT l_suppkey,
              |  CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
              |  CAST(COUNT(*) AS BIGINT) AS n_islands,
              |  CAST(SUM(i_e - i_s + 1) AS BIGINT) AS covered_days,
              |  CAST(MAX(i_e - i_s + 1) AS BIGINT) AS longest_island
              |FROM isl GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- GLOBAL daily concurrency, two-phase: N rows reduce to
    // per-day delta sums (the only N-sized exchange), the prefix-sum
    // window runs over the dense calendar-span frame only (thousands
    // of rows at any scale). Zero-activity days INSIDE the span are
    // kept; the trailing all-closed boundary day is dropped.
    QueryDef("q269_daily_in_transit",
      (s, dir) => Intervals.dailyConcurrency(
          transit(s, dir).select(col("s"), col("e")), "s", "e")
        .orderBy(col("day")),
      Some(s"""WITH $oTransit,
              |ev AS (SELECT s AS day, 1 AS d FROM iv
              |  UNION ALL SELECT e + 1, -1 FROM iv),
              |del AS (SELECT day, CAST(SUM(d) AS BIGINT) AS delta
              |  FROM ev GROUP BY 1),
              |sp AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM del),
              |cal AS (SELECT CAST(unnest(generate_series(CAST(d0 AS
              |    TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY))
              |    AS DATE) AS day, d1 FROM sp),
              |dense AS (SELECT cal.day, cal.d1,
              |    COALESCE(del.delta, 0) AS delta
              |  FROM cal LEFT JOIN del ON cal.day = del.day),
              |c AS (SELECT day, d1, SUM(delta) OVER (ORDER BY day)
              |    AS open_cnt FROM dense)
              |SELECT day, CAST(open_cnt AS BIGINT) AS open_cnt
              |FROM c WHERE day < d1 ORDER BY day""".stripMargin)))
}
