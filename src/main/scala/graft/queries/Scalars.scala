package graft.queries

import org.apache.spark.sql.functions._

/** Scalar-function batteries (SURVEY.md §2.5: "string/date/math/array/map/
  * JSON scalars" — the reference delegates all of these to source-DB SQL;
  * here they are codegen'd `org.apache.spark.sql.functions` calls, no
  * UDFs).
  *
  * Cross-engine parity notes are inline: DuckDB returns BIGINT where Spark
  * returns INT (length/instr/year/…) → cast; DuckDB floor/ceil return
  * DOUBLE where Spark returns BIGINT → cast; function spellings differ
  * (instr↔strpos, date_format↔strftime, get_json_object↔
  * json_extract_string) but semantics align on the subset used.
  */
object Scalars {
  val defs: Seq[QueryDef] = Seq(

    // ---- string battery over part
    QueryDef("q19_string_funcs",
      (s, dir) => t("part")(s, dir)
        .select(col("p_partkey"),
          upper(col("p_name")).as("up_name"),
          lower(col("p_brand")).as("lo_brand"),
          length(col("p_name")).cast("bigint").as("name_len"),
          substring(col("p_type"), 1, 5).as("type5"),
          concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_name"), lit(" "), lit("_")).as("und_name"),
          lpad(col("p_size").cast("string"), 4, "0").as("size4"),
          split_part(col("p_type"), lit(" "), lit(1)).as("type_head"),
          instr(col("p_name"), "a").cast("bigint").as("a_pos"),
          col("p_type").like("%BRASS%").as("is_brass"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey,
             |  upper(p_name) AS up_name,
             |  lower(p_brand) AS lo_brand,
             |  CAST(length(p_name) AS BIGINT) AS name_len,
             |  substring(p_type, 1, 5) AS type5,
             |  concat(p_brand, '#', p_type) AS brand_type,
             |  replace(p_name, ' ', '_') AS und_name,
             |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size4,
             |  split_part(p_type, ' ', 1) AS type_head,
             |  CAST(strpos(p_name, 'a') AS BIGINT) AS a_pos,
             |  p_type LIKE '%BRASS%' AS is_brass
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // ---- date/time battery over orders
    QueryDef("q20_date_funcs",
      (s, dir) => t("orders")(s, dir)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("bigint").as("y"),
          month(col("o_orderdate")).cast("bigint").as("m"),
          dayofmonth(col("o_orderdate")).cast("bigint").as("d"),
          quarter(col("o_orderdate")).cast("bigint").as("q"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("due_ts"),
          datediff(lit("2002-01-01").cast("date"),
            col("o_orderdate").cast("date")).cast("bigint").as("days_to_2002"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("iso_day"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
             |  CAST(year(o_orderdate) AS BIGINT) AS y,
             |  CAST(month(o_orderdate) AS BIGINT) AS m,
             |  CAST(day(o_orderdate) AS BIGINT) AS d,
             |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
             |  date_trunc('month', o_orderdate) AS month_start,
             |  o_orderdate + INTERVAL 30 DAY AS due_ts,
             |  CAST(datediff('day', CAST(o_orderdate AS DATE),
             |    DATE '2002-01-01') AS BIGINT) AS days_to_2002,
             |  strftime(o_orderdate, '%Y-%m-%d') AS iso_day
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- math battery over lineitem (sqrt is IEEE-correctly-rounded →
    // deterministic across engines; pow/exp/log are libm-dependent and
    // deliberately avoided)
    QueryDef("q21_math_funcs",
      (s, dir) => t("lineitem")(s, dir)
        .filter(col("l_orderkey") <= 2000)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("abs_disc"),
          floor(col("l_extendedprice")).cast("bigint").as("floor_price"),
          ceil(col("l_extendedprice")).cast("bigint").as("ceil_price"),
          round(col("l_tax") * 100, 0).as("tax_pct"),
          sqrt(col("l_quantity")).as("sqrt_qty"),
          (col("l_linenumber") % 3).as("ln_mod3"),
          signum(col("l_discount") - 0.04).as("disc_sign"),
          greatest(col("l_tax"), col("l_discount")).as("max_rate"),
          least(col("l_tax"), col("l_discount")).as("min_rate"),
          (col("l_quantity") * col("l_quantity")).as("qty_sq"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  abs(l_discount - 0.05) AS abs_disc,
             |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
             |  CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
             |  round(l_tax * 100, 0) AS tax_pct,
             |  sqrt(l_quantity) AS sqrt_qty,
             |  l_linenumber % 3 AS ln_mod3,
             |  CAST(sign(l_discount - 0.04) AS DOUBLE) AS disc_sign,
             |  greatest(l_tax, l_discount) AS max_rate,
             |  least(l_tax, l_discount) AS min_rate,
             |  l_quantity * l_quantity AS qty_sq
             |FROM lineitem WHERE l_orderkey <= 2000
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- CASE WHEN / COALESCE / NULLIF battery
    QueryDef("q22_case_coalesce",
      (s, dir) => t("customer")(s, dir)
        .select(col("c_custkey"),
          when(col("c_acctbal") < 0, "neg")
            .when(col("c_acctbal") < 1000, "low")
            .when(col("c_acctbal") < 5000, "mid")
            .otherwise("high").as("bal_bucket"),
          coalesce(nullif(col("c_mktsegment"), lit("MACHINERY")),
            lit("(suppressed)")).as("segment"))
        .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey,
             |  CASE WHEN c_acctbal < 0 THEN 'neg'
             |       WHEN c_acctbal < 1000 THEN 'low'
             |       WHEN c_acctbal < 5000 THEN 'mid'
             |       ELSE 'high' END AS bal_bucket,
             |  COALESCE(NULLIF(c_mktsegment, 'MACHINERY'),
             |    '(suppressed)') AS segment
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // ---- JSON extraction from events.props (Spark get_json_object ↔
    // DuckDB json_extract_string) + aggregation over the extracted value
    QueryDef("q23_json_extract",
      (s, dir) => t("events")(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k_val"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k_val")).as("k_sum"),
          min(col("k_val")).as("k_min"),
          max(col("k_val")).as("k_max"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(k_val) AS BIGINT) AS k_sum,
             |  min(k_val) AS k_min, max(k_val) AS k_max
             |FROM (SELECT event_type,
             |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
             |  FROM events)
             |GROUP BY event_type ORDER BY event_type""".stripMargin))
  )
}
