package graft.queries

import org.apache.spark.sql.functions._

/** Round-11 continuation: the remaining classic TPC-H planner shapes
  * over this schema (q250-q258) — with q1/q60/q61/q143/q156/q162/
  * q212/q216/q247/q248/q249 this completes every canon shape the
  * schema can express (Q9/Q12 need partsupp-profit/commit-receipt
  * dates the generator doesn't carry; their topologies — multi-dim
  * star agg, two-sided date band — are covered by q61/q165). All
  * money stays exact DECIMAL (or integer micro-units for shares)
  * until the output cast; the driver hash-gates every row against
  * DuckDB running the NAIVE form (correlated subqueries, EXISTS,
  * HAVING-IN) so the decorrelated Spark plans must be semantically
  * indistinguishable.
  */
object Round11b {
  /** Exact per-row revenue: extprice·(1−disc) as DECIMAL(25,4). */
  private val revDec =
    col("l_extendedprice").cast("decimal(12,2)") *
      (lit(1.0) - col("l_discount")).cast("decimal(12,2)")
  private val oRev =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "CAST(1.0 - l_discount AS DECIMAL(12,2))"

  val defs: Seq[QueryDef] = Seq(

    // ---- TPC-H Q4 shape (order-priority checking): orders in one
    // quarter with at least one LATE lineitem (shipped > 30 days
    // after ordering — this schema's lateness signal, the q162
    // convention), counted per priority. EXISTS → one broadcast-able
    // LEFT SEMI join keyed on the order key with the lateness bound
    // in the join condition; the oracle runs the naive EXISTS.
    QueryDef("q250_tpch4",
      (s, dir) => {
        val ord = t("orders")(s, dir)
          .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        val li = t("lineitem")(s, dir)
          .select(col("l_orderkey"), col("l_shipdate"))
        ord.join(li,
            col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") +
              expr("INTERVAL 30 DAY"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1996-04-01'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |    WHERE l_orderkey = o_orderkey
             |      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ---- TPC-H Q6 shape (forecasting revenue change): the pure
    // filtered-aggregate scan — discount-band revenue for one year.
    // Every predicate reaches the parquet scan (PushedFilters); the
    // aggregate is one partial+final pass, zero joins.
    QueryDef("q251_tpch6",
      (s, dir) => t("lineitem")(s, dir)
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp")
          && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
          && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            col("l_discount").cast("decimal(12,2)"))
          .cast("double").as("revenue")),
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
             |    CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
             |  AS revenue
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             |  AND l_shipdate < TIMESTAMP '1998-01-01'
             |  AND l_discount BETWEEN 0.05 AND 0.07
             |  AND l_quantity < 24""".stripMargin)),

    // ---- TPC-H Q7 shape (volume shipping): revenue flowing between
    // two nations in either direction, per (supp_nation, cust_nation,
    // year). The two nation dims + supplier + customer all broadcast;
    // the only wide exchanges are the lineitem⨝orders fact join and
    // the final rollup. The disjunctive nation pair filter runs on
    // the joined dims, not as a join condition, so both joins stay
    // equi.
    QueryDef("q252_tpch7",
      (s, dir) => {
        val sn = t("supplier")(s, dir)
          .join(broadcast(t("nation")(s, dir)
            .select(col("n_nationkey").as("s_nk"),
              col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("s_nk"))
          .select(col("s_suppkey"), col("supp_nation"))
        val cn = t("customer")(s, dir)
          .join(broadcast(t("nation")(s, dir)
            .select(col("n_nationkey").as("c_nk"),
              col("n_name").as("cust_nation"))),
            col("c_nationkey") === col("c_nk"))
          .select(col("c_custkey"), col("cust_nation"))
        t("lineitem")(s, dir)
          .join(t("orders")(s, dir)
            .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
          .where((col("supp_nation") === "NATION_1" &&
              col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" &&
              col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("bigint").as("l_year"))
          .agg(sum(revDec).cast("double").as("revenue"))
          .orderBy(col("supp_nation"), col("cust_nation"),
            col("l_year"))
      },
      Some(s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
              |  CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
              |  CAST(SUM($oRev) AS DOUBLE) AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN nation sn ON s_nationkey = sn.n_nationkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation cn ON c_nationkey = cn.n_nationkey
              |WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
              |   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
              |GROUP BY 1, 2, 3
              |ORDER BY 1, 2, 3""".stripMargin)),

    // ---- TPC-H Q8 shape (national market share): of the revenue
    // region-0 customers generate, the share supplied by NATION_1,
    // per year — in EXACT integer ppm: per-row revenue is DECIMAL(25,4),
    // scaled to exact BIGINT ten-thousandths, and the share is the
    // integer division (num·10⁶) div den carried in DECIMAL(38,0)
    // (HUGEINT on the oracle side — the q226 headroom convention).
    QueryDef("q253_tpch8",
      (s, dir) => {
        val cr = t("customer")(s, dir)
          .join(broadcast(t("nation")(s, dir)
            .where(col("n_regionkey") === 0)
            .select(col("n_nationkey").as("c_nk"))),
            col("c_nationkey") === col("c_nk"))
          .select(col("c_custkey"))
        val sn = t("supplier")(s, dir)
          .join(broadcast(t("nation")(s, dir)
            .select(col("n_nationkey").as("s_nk"),
              col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("s_nk"))
          .select(col("s_suppkey"), col("supp_nation"))
        t("lineitem")(s, dir)
          .join(t("orders")(s, dir)
            .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(cr, col("o_custkey") === col("c_custkey"), "left_semi")
          .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
          .select(year(col("l_shipdate")).cast("bigint").as("l_year"),
            (revDec * 10000).cast("bigint").as("rev_m"),
            col("supp_nation"))
          .groupBy(col("l_year"))
          .agg(
            sum(when(col("supp_nation") === "NATION_1", col("rev_m"))
              .otherwise(0L)).as("num_m"),
            sum(col("rev_m")).as("den_m"))
          .select(col("l_year"),
            expr("(CAST(num_m AS DECIMAL(38,0)) * 1000000) div den_m")
              .as("mkt_share_ppm"))
          .orderBy(col("l_year"))
      },
      Some(s"""WITH r AS (SELECT
              |    CAST(EXTRACT(year FROM l_shipdate) AS BIGINT)
              |      AS l_year,
              |    CAST(($oRev) * 10000 AS BIGINT) AS rev_m,
              |    sn.n_name AS supp_nation
              |  FROM lineitem
              |  JOIN orders ON l_orderkey = o_orderkey
              |  JOIN supplier ON l_suppkey = s_suppkey
              |  JOIN nation sn ON s_nationkey = sn.n_nationkey
              |  WHERE o_custkey IN (SELECT c_custkey FROM customer
              |    JOIN nation cn ON c_nationkey = cn.n_nationkey
              |    WHERE cn.n_regionkey = 0)),
              |g AS (SELECT l_year,
              |    SUM(CASE WHEN supp_nation = 'NATION_1'
              |      THEN rev_m ELSE 0 END) AS num_m,
              |    SUM(rev_m) AS den_m
              |  FROM r GROUP BY l_year)
              |SELECT l_year,
              |  CAST(CAST(num_m AS HUGEINT) * 1000000 // den_m
              |    AS BIGINT) AS mkt_share_ppm
              |FROM g ORDER BY l_year""".stripMargin)),

    // ---- TPC-H Q11 shape (important stock): per-part inventory
    // value from one nation's suppliers, kept where value exceeds
    // 0.02% of that nation's total (non-degenerate at every test SF) — the group-agg vs global-scalar
    // threshold shape. The one-row total crossJoins back broadcast;
    // the threshold compare is exact decimal cross-multiplication
    // (value·5000 > total), no float boundary.
    QueryDef("q254_tpch11",
      (s, dir) => {
        val sn = t("supplier")(s, dir)
          .join(broadcast(t("nation")(s, dir)
            .where(col("n_name") === "NATION_5")
            .select(col("n_nationkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"))
        val v = t("lineitem")(s, dir)
          .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"),
            "left_semi")
          .groupBy(col("l_partkey"))
          .agg(sum(col("l_extendedprice").cast("decimal(12,2)"))
            .as("val"))
        val tot = v.agg(sum(col("val")).as("tot"))
        v.crossJoin(broadcast(tot))
          .where(col("val") * 5000 > col("tot"))
          .select(col("l_partkey"),
            col("val").cast("double").as("value"))
          .orderBy(col("value").desc, col("l_partkey"))
      },
      Some("""WITH v AS (SELECT l_partkey,
             |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS val
             |  FROM lineitem
             |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
             |    JOIN nation ON s_nationkey = n_nationkey
             |    WHERE n_name = 'NATION_5')
             |  GROUP BY l_partkey)
             |SELECT l_partkey, CAST(val AS DOUBLE) AS value
             |FROM v
             |WHERE val * 5000 > (SELECT SUM(val) FROM v)
             |ORDER BY value DESC, l_partkey""".stripMargin)),

    // ---- TPC-H Q14 shape (promotion effect): PROMO-type share of
    // one month's revenue in exact ppm (the canon's 100·promo/total
    // float division replaced by integer micro-unit division — the
    // q253 discipline). Part dim broadcasts; one global aggregate.
    QueryDef("q255_tpch14",
      (s, dir) => t("lineitem")(s, dir)
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-02-01").cast("timestamp"))
        .join(broadcast(t("part")(s, dir)
          .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .select((revDec * 10000).cast("bigint").as("rev_m"),
          col("p_type"))
        .agg(
          sum(when(col("p_type") === "PROMO", col("rev_m"))
            .otherwise(0L)).as("num_m"),
          sum(col("rev_m")).as("den_m"))
        .select(
          expr("(CAST(num_m AS DECIMAL(38,0)) * 1000000) div den_m")
            .as("promo_share_ppm")),
      Some(s"""WITH r AS (SELECT
              |    CAST(($oRev) * 10000 AS BIGINT) AS rev_m, p_type
              |  FROM lineitem JOIN part ON l_partkey = p_partkey
              |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              |    AND l_shipdate < TIMESTAMP '1997-02-01')
              |SELECT CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
              |      THEN rev_m ELSE 0 END) AS HUGEINT) * 1000000
              |    // SUM(rev_m) AS BIGINT) AS promo_share_ppm
              |FROM r""".stripMargin)),

    // ---- TPC-H Q16 shape (supplier-part relationships): distinct
    // supplier counts per (brand, type, size) for non-excluded
    // brands, minus a complaints-style supplier blocklist (NOT IN →
    // broadcast LEFT ANTI). Exact distinct on (group, suppkey) —
    // vocabulary-bounded, the COUNT(DISTINCT) the canon asks for.
    QueryDef("q256_tpch16",
      (s, dir) => {
        val excl = t("supplier")(s, dir)
          .where(col("s_name").like("%7%"))
          .select(col("s_suppkey"))
        t("lineitem")(s, dir)
          .select(col("l_partkey"), col("l_suppkey"))
          .join(broadcast(excl),
            col("l_suppkey") === col("s_suppkey"), "left_anti")
          .join(broadcast(t("part")(s, dir)
            .where(col("p_brand") =!= "Brand#1")
            .select(col("p_partkey"), col("p_brand"), col("p_type"),
              col("p_size"))),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .select(col("p_brand"), col("p_type"),
            col("p_size").cast("bigint").as("p_size"),
            col("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"),
            col("p_type"), col("p_size"))
      },
      Some("""SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
             |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE p_brand <> 'Brand#1'
             |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
             |    WHERE s_name LIKE '%7%')
             |GROUP BY p_brand, p_type, p_size
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""
        .stripMargin)),

    // ---- TPC-H Q18 shape (large-volume customers): orders whose
    // total quantity clears a threshold — HAVING-IN decorrelated to
    // one per-order aggregation semi-joining the fact chain. Quantity
    // sums stay DECIMAL through the threshold compare; the top-100
    // cut uses a fully deterministic (price desc, date, orderkey)
    // order so LIMIT is engine-identical.
    QueryDef("q257_tpch18",
      (s, dir) => {
        val big = t("lineitem")(s, dir)
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("sq"))
          .where(col("sq") > 300)
        t("orders")(s, dir)
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(t("customer")(s, dir)
            .select(col("c_custkey"), col("c_name"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"),
            col("sq").cast("double").as("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderdate"),
            col("o_orderkey"))
          .limit(100)
      },
      Some("""WITH big AS (SELECT l_orderkey,
             |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq
             |  FROM lineitem GROUP BY l_orderkey
             |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 300)
             |SELECT c_name, c_custkey, o_orderkey,
             |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
             |  o_totalprice, CAST(sq AS DOUBLE) AS total_qty
             |FROM orders JOIN big ON o_orderkey = l_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
             |LIMIT 100""".stripMargin)),

    // ---- TPC-H Q2 shape (min-cost supplier): for every part, the
    // region-1 supplier offering it cheapest (cost = the supplier's
    // minimum extended price for the part — this schema's stand-in
    // for ps_supplycost), ties to the lowest suppkey. The correlated
    // MIN-per-part subquery decorrelates to one (part, supplier)
    // aggregation + a per-part min_by — map-side-combined argmin, no
    // window sort, no re-join of the agg against itself. The oracle
    // runs the rank-1 window form.
    QueryDef("q258_tpch2",
      (s, dir) => {
        val sr = t("supplier")(s, dir)
          .join(broadcast(t("nation")(s, dir)
            .where(col("n_regionkey") === 1)
            .select(col("n_nationkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"))
        val cost = t("lineitem")(s, dir)
          .join(broadcast(sr), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"), col("s_name"))
          .agg(min(col("l_extendedprice").cast("decimal(12,2)"))
            .as("cost"))
        cost.groupBy(col("l_partkey"))
          .agg(min_by(
            struct(col("l_suppkey"), col("s_name"), col("cost")),
            struct(col("cost"), col("l_suppkey"))).as("best"))
          .select(col("l_partkey"), col("best.l_suppkey").as("s_suppkey"),
            col("best.s_name").as("s_name"),
            col("best.cost").cast("double").as("cost"))
          .orderBy(col("l_partkey"))
      },
      Some("""WITH cost AS (SELECT l_partkey, l_suppkey, s_name,
             |    MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
             |  FROM lineitem
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN nation ON s_nationkey = n_nationkey
             |  WHERE n_regionkey = 1
             |  GROUP BY 1, 2, 3),
             |r AS (SELECT *, row_number() OVER (PARTITION BY l_partkey
             |    ORDER BY cost, l_suppkey) AS rk FROM cost)
             |SELECT l_partkey, l_suppkey AS s_suppkey, s_name,
             |  CAST(cost AS DOUBLE) AS cost
             |FROM r WHERE rk = 1
             |ORDER BY l_partkey""".stripMargin)))
}
