package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator catalog (SURVEY.md §2.5 delegated layer): every
  * join type, aggregation shape, window, sort/limit and set operation the
  * reference delegates to source databases, expressed as native Spark
  * plans with their DuckDB oracle twins.
  *
  * Scale notes are per-query in the scaladoc of each entry: the guiding
  * rules are (a) small dimensions broadcast, (b) big⋈big joins shuffle on
  * the join key only after filters/pushdown, (c) aggregates rely on
  * partial (map-side) aggregation, (d) window functions partition on
  * high-cardinality keys so no single partition concentrates the data.
  *
  * Type policy: computed integers are cast to BIGINT on both sides
  * (DuckDB COUNT/length/year return BIGINT while Spark returns INT);
  * decimal-exact sums come from [[graft.queries.dsum]].
  */
object Relational {
  val defs: Seq[QueryDef] = Seq(

    // ---- scan + filter + projection (pushdown: filter and 4-column read
    // schema reach the parquet scan; revenue is a per-row double product,
    // deterministic in both engines)
    QueryDef("q2_filter_project",
      (s, dir) => {
        val li = t("lineitem")(s, dir)
        li.filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("revenue"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
             |  l_extendedprice * (1.0 - l_discount) AS revenue
             |FROM lineitem
             |WHERE l_quantity > 45 AND l_returnflag = 'R'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- lookup enrichment as chained broadcast left joins (reference
    // L1-L4; the dimensions are tiny → two BroadcastHashJoins, the fact
    // side never shuffles)
    QueryDef("q3_lookup_enrich",
      (s, dir) => {
        val c = t("customer")(s, dir)
        val n = t("nation")(s, dir)
        val r = t("region")(s, dir)
        graft.operators.Lookup(r, Seq("r_regionkey"))
          .enrich(
            graft.operators.Lookup(n, Seq("n_nationkey"))
              .enrich(c, keyMap = Map("n_nationkey" -> "c_nationkey")),
            keyMap = Map("r_regionkey" -> "n_regionkey"))
          .select(col("c_custkey"), col("c_name"), col("n_name"),
            col("r_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name, n_name, r_name
             |FROM customer
             |LEFT JOIN nation ON n_nationkey = c_nationkey
             |LEFT JOIN region ON r_regionkey = n_regionkey
             |ORDER BY c_custkey""".stripMargin)),

    // ---- inner join + aggregation (orders⋈customer shuffles on custkey;
    // nation broadcasts; partial aggregation before the shuffle)
    QueryDef("q4_join_inner_agg",
      (s, dir) => {
        val o = t("orders")(s, dir)
        val c = t("customer")(s, dir)
        val n = t("nation")(s, dir)
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(dsum(col("o_totalprice")).as("total_spend"),
            count(lit(1)).as("n_orders"))
          .orderBy(col("n_name"))
      },
      Some(s"""SELECT n_name, ${oSum("o_totalprice")} AS total_spend,
              |  COUNT(*) AS n_orders
              |FROM orders
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |GROUP BY n_name
              |ORDER BY n_name""".stripMargin)),

    // ---- right outer join (customers keep their row with zero orders)
    QueryDef("q5_join_right",
      (s, dir) => {
        val o = t("orders")(s, dir)
        val c = t("customer")(s, dir)
        o.join(c, o("o_custkey") === c("c_custkey"), "right")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, COUNT(o_orderkey) AS n_orders
             |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_custkey
             |ORDER BY c_custkey""".stripMargin)),

    // ---- full outer join of two aggregates on a derived key
    QueryDef("q6_join_full",
      (s, dir) => {
        val byOrder = t("orders")(s, dir)
          .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("n_orders"))
        val byShip = t("lineitem")(s, dir)
          .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
          .agg(count(lit(1)).as("n_ships"))
        byOrder.join(byShip, Seq("day"), "full")
          .select(col("day"), col("n_orders"), col("n_ships"))
          .orderBy(col("day"))
      },
      Some("""SELECT COALESCE(a.day, b.day) AS day, a.n_orders, b.n_ships
             |FROM (SELECT date_trunc('day', o_orderdate) AS day,
             |        COUNT(*) AS n_orders FROM orders GROUP BY 1) a
             |FULL JOIN (SELECT date_trunc('day', l_shipdate) AS day,
             |        COUNT(*) AS n_ships FROM lineitem GROUP BY 1) b
             |  USING (day)
             |ORDER BY day""".stripMargin)),

    // ---- left semi join (EXISTS; no columns from the right, no row
    // multiplication — at scale this is the cheapest existence check)
    QueryDef("q7_semi_join",
      (s, dir) => {
        val o = t("orders")(s, dir)
        val li = t("lineitem")(s, dir).filter(col("l_quantity") > 49)
        o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |  WHERE l_orderkey = o_orderkey AND l_quantity > 49)
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- left anti join (NOT EXISTS): customers with no recent orders
    // (the date filter pushes into the orders scan before the anti join)
    QueryDef("q8_anti_join",
      (s, dir) => {
        val c = t("customer")(s, dir)
        val o = t("orders")(s, dir)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey
             |  AND o_orderdate >= TIMESTAMP '2000-01-01')
             |ORDER BY c_custkey""".stripMargin)),

    // ---- theta join (equi on region + inequality; tiny inputs, the
    // inequality rides on the hash join as a post-condition)
    QueryDef("q9_theta_join",
      (s, dir) => {
        val a = t("nation")(s, dir).select(col("n_regionkey").as("rk"),
          col("n_name").as("nation_a"))
        val b = t("nation")(s, dir).select(col("n_regionkey").as("rk2"),
          col("n_name").as("nation_b"))
        a.join(b, col("rk") === col("rk2") &&
            col("nation_a") < col("nation_b"))
          .select(col("nation_a"), col("nation_b"))
          .orderBy(col("nation_a"), col("nation_b"))
      },
      Some("""SELECT a.n_name AS nation_a, b.n_name AS nation_b
             |FROM nation a JOIN nation b
             |  ON a.n_regionkey = b.n_regionkey AND a.n_name < b.n_name
             |ORDER BY nation_a, nation_b""".stripMargin)),

    // ---- interval/range predicate join (point-in-window shipping check;
    // the equi key carries the join, the range is a residual filter)
    QueryDef("q10_range_join",
      (s, dir) => {
        val li = t("lineitem")(s, dir)
        val o = t("orders")(s, dir)
        li.join(o, li("l_orderkey") === o("o_orderkey") &&
            li("l_shipdate") >= o("o_orderdate") &&
            li("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("qty"))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n_lines,
              |  ${oSum("l_quantity")} AS qty
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |  AND l_shipdate >= o_orderdate
              |  AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
              |GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)),

    // ---- GROUP BY + HAVING
    QueryDef("q11_having",
      (s, dir) => t("orders")(s, dir)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("spend"))
        .filter(col("n_orders") >= 8)
        .orderBy(col("o_custkey")),
      Some(s"""SELECT o_custkey, COUNT(*) AS n_orders,
              |  ${oSum("o_totalprice")} AS spend
              |FROM orders GROUP BY o_custkey
              |HAVING COUNT(*) >= 8
              |ORDER BY o_custkey""".stripMargin)),

    // ---- distinct / multi-column distinct counts (expand-based distinct
    // aggregation; partial aggregation keeps the shuffle narrow)
    QueryDef("q12_distinct",
      (s, dir) => t("lineitem")(s, dir)
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          countDistinct(col("l_partkey"), col("l_suppkey")).as("n_pairs")),
      Some("""SELECT COUNT(DISTINCT l_partkey) AS n_parts,
             |  COUNT(DISTINCT l_suppkey) AS n_supps,
             |  (SELECT COUNT(*) FROM
             |    (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))
             |    AS n_pairs
             |FROM lineitem""".stripMargin)),

    // ---- ROLLUP grouping sets
    QueryDef("q13_rollup",
      (s, dir) => t("lineitem")(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"),
          grouping_id().cast("bigint").as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus")),
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              |  ${oSum("l_quantity")} AS qty,
              |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
              |FROM lineitem
              |GROUP BY ROLLUP (l_returnflag, l_linestatus)
              |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)),

    // ---- CUBE grouping sets
    QueryDef("q14_cube",
      (s, dir) => t("orders")(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          grouping_id().cast("bigint").as("gid"))
        .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority")),
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
             |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
             |FROM orders
             |GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin)),

    // ---- top-k per group via ranking window (the scalable top-k: no
    // global sort, per-group heaps inside the window exec)
    QueryDef("q15_topk_per_group",
      (s, dir) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t("orders")(s, dir)
          .withColumn("rn", row_number().over(w).cast("bigint"))
          .filter(col("rn") <= 3)
          .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
            col("o_totalprice"))
          .orderBy(col("o_orderpriority"), col("rn"))
      },
      Some("""SELECT o_orderpriority, CAST(rn AS BIGINT) AS rn, o_orderkey,
             |  o_totalprice
             |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
             |    ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
             |WHERE rn <= 3
             |ORDER BY o_orderpriority, rn""".stripMargin)),

    // ---- analytic window battery: row_number / lag / lead / running sum
    // / moving average, partitioned per customer (high-cardinality key →
    // even distribution at scale)
    QueryDef("q16_window_analytics",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val mov = w.rowsBetween(-2, 0)
        t("orders")(s, dir)
          .filter(col("o_custkey") <= 200)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            row_number().over(w).cast("bigint").as("rn"),
            lag(col("o_totalprice"), 1).over(w).as("prev_price"),
            lead(col("o_totalprice"), 1).over(w).as("next_price"),
            sum(col("o_totalprice").cast("decimal(12,2)")).over(run)
              .cast("double").as("running_spend"),
            (sum(col("o_totalprice").cast("decimal(12,2)")).over(mov)
              .cast("double") / count(lit(1)).over(mov)).as("mov_avg"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
             |  CAST(row_number() OVER w AS BIGINT) AS rn,
             |  lag(o_totalprice, 1) OVER w AS prev_price,
             |  lead(o_totalprice, 1) OVER w AS next_price,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER
             |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS DOUBLE) AS running_spend,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER
             |    (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             |    / COUNT(*) OVER
             |    (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_avg
             |FROM orders
             |WHERE o_custkey <= 200
             |WINDOW w AS (PARTITION BY o_custkey
             |  ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, rn""".stripMargin)),

    // ---- global sort + limit (Spark TakeOrderedAndProject: per-partition
    // top-k then merge — no full sort at scale)
    QueryDef("q17_sort_limit",
      (s, dir) => t("orders")(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice")),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // ---- set operations: INTERSECT / EXCEPT tagged into one result
    QueryDef("q18_setops",
      (s, dir) => {
        val auto = t("customer")(s, dir)
          .filter(col("c_mktsegment") === "AUTOMOBILE")
          .select(col("c_custkey").as("custkey"))
        val withOrders = t("orders")(s, dir)
          .select(col("o_custkey").as("custkey")).distinct()
        auto.intersect(withOrders).withColumn("tag", lit("with_orders"))
          .unionByName(
            auto.except(withOrders).withColumn("tag", lit("no_orders")))
          .select(col("tag"), col("custkey"))
          .orderBy(col("tag"), col("custkey"))
      },
      Some("""WITH auto AS (SELECT c_custkey AS custkey FROM customer
             |  WHERE c_mktsegment = 'AUTOMOBILE'),
             |w AS (SELECT DISTINCT o_custkey AS custkey FROM orders)
             |SELECT 'with_orders' AS tag, custkey
             |  FROM (SELECT custkey FROM auto INTERSECT
             |        SELECT custkey FROM w)
             |UNION ALL
             |SELECT 'no_orders' AS tag, custkey
             |  FROM (SELECT custkey FROM auto EXCEPT SELECT custkey FROM w)
             |ORDER BY tag, custkey""".stripMargin))
  )
}
