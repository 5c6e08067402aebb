package graft.queries

import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** Round-11 continuation 8 (q294+): windowed code-switching detection
  * and the hash-threshold sample-quantile sketch (the mergeable
  * rank-sketch next to HLL/KMV/CMS, with an exact rank-error audit).
  */
object Round11h {
  private val enM = Seq("the", "of", "and", "a", "to", "in", "is")
  private val esM = Seq("el", "la", "de", "los", "y", "en", "que")
  private val deM = Seq("der", "die", "das", "und", "ist")
  private def oIn(m: Seq[String]): String =
    m.map(w => s"'$w'").mkString(", ")

  val defs: Seq[QueryDef] = Seq(

    // ---- code-switching detection: the q30 langid heuristic run per
    // 20-token WINDOW instead of per document, then aggregated — a
    // document whose windows disagree on language is mixed-language,
    // the case a doc-level classifier mislabels with full confidence
    // (and a real filter drops or splits before training). Decoration
    // (q264 discipline): doc_id%9=0 docs get 42 appended Spanish
    // marker tokens, guaranteeing ≥1 pure-es window regardless of
    // alignment; both engines decorate identically. The token stream
    // is one explode; windows are pos div 20; everything downstream
    // is doc-bounded aggregation.
    QueryDef("q294_code_switch",
      (s, dir) => {
        val esPad = (" " + esM.mkString(" ")) * 6
        val docs = t("documents")(s, dir).select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 9 === 0, lit(esPad))
              .otherwise(lit(""))).as("text"))
        val tok = docs
          .select(col("doc_id"),
            posexplode(TextOps.words(col("text"))).as(Seq("pos", "w")))
          .select(col("doc_id"), (col("pos") / 20).cast("long")
            .as("win"), col("w"))
        val winLang = tok.groupBy(col("doc_id"), col("win"))
          .agg(
            sum(when(col("w").isInCollection(enM), 1L).otherwise(0L))
              .as("en_h"),
            sum(when(col("w").isInCollection(esM), 1L).otherwise(0L))
              .as("es_h"),
            sum(when(col("w").isInCollection(deM), 1L).otherwise(0L))
              .as("de_h"))
          .withColumn("wl",
            when(col("en_h") >= col("es_h") &&
              col("en_h") >= col("de_h"), "en")
              .when(col("es_h") >= col("de_h"), "es")
              .otherwise("de"))
        winLang.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_windows"),
            countDistinct(col("wl")).as("n_langs"),
            sum(when(col("wl") === "en", 1L).otherwise(0L))
              .as("n_en_windows"),
            sum(when(col("wl") === "es", 1L).otherwise(0L))
              .as("n_es_windows"))
          .withColumn("is_switched", col("n_langs") >= 2)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, text ||
              |    CASE WHEN doc_id % 9 = 0
              |      THEN repeat(' ${esM.mkString(" ")}', 6)
              |      ELSE '' END AS text
              |  FROM documents),
              |w AS (SELECT doc_id,
              |  list_filter(string_split_regex(lower(text), '\\s+'),
              |    x -> len(x) > 0) AS ws FROM d),
              |idx AS (SELECT doc_id, ws,
              |  unnest(generate_series(1, len(ws))) AS i FROM w),
              |tok AS (SELECT doc_id, (i - 1) // 20 AS win,
              |  ws[i] AS w FROM idx),
              |wl AS (SELECT doc_id, win,
              |    SUM(CASE WHEN w IN (${oIn(enM)}) THEN 1 ELSE 0 END)
              |      AS en_h,
              |    SUM(CASE WHEN w IN (${oIn(esM)}) THEN 1 ELSE 0 END)
              |      AS es_h,
              |    SUM(CASE WHEN w IN (${oIn(deM)}) THEN 1 ELSE 0 END)
              |      AS de_h
              |  FROM tok GROUP BY 1, 2),
              |wv AS (SELECT doc_id,
              |    CASE WHEN en_h >= es_h AND en_h >= de_h THEN 'en'
              |      WHEN es_h >= de_h THEN 'es' ELSE 'de' END AS wl
              |  FROM wl)
              |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
              |  CAST(COUNT(DISTINCT wl) AS BIGINT) AS n_langs,
              |  CAST(SUM(CASE WHEN wl = 'en' THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_en_windows,
              |  CAST(SUM(CASE WHEN wl = 'es' THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_es_windows,
              |  COUNT(DISTINCT wl) >= 2 AS is_switched
              |FROM wv GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- hash-threshold sample-quantile sketch (the mergeable
    // RANK sketch completing the HLL / KMV / count-min / Misra-Gries
    // family): per group, keep rows whose 60-bit row hash falls under
    // t_g = (k·2⁶⁰) div n_g — a coordinated ~k-row uniform sample
    // that is MERGEABLE by construction (a fixed-threshold filter
    // commutes with union; merging sketches built at different
    // thresholds re-filters at the min). The p50 estimate is the
    // sample's lower median; the row also carries the EXACT lower
    // median and the estimate's true rank error in ppm — the audit
    // that tells you whether k is big enough BEFORE trusting the
    // sketch on 100 TB (expected error ~1/√k). Two passes over the
    // fact table (count + filter), both map-side before tiny
    // aggregations; the sample itself is k-bounded per group.
    QueryDef("q295_sample_quantiles",
      (s, dir) => {
        val k = 256L
        val li = t("lineitem")(s, dir).select(col("l_returnflag"),
          (col("l_extendedprice").cast("decimal(12,2)") * 100)
            .cast("long").as("v"),
          TextOps.hash60((col("l_orderkey") * 8 + col("l_linenumber"))
            .cast("string")).as("rh"))
        val ng = li.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"))
          .withColumn("thresh", expr(
            s"CAST((CAST($k AS DECIMAL(38,0)) * " +
              "1152921504606846976) div n AS BIGINT)"))
        val sample = li.join(broadcast(ng), Seq("l_returnflag"))
          .where(col("rh") < col("thresh"))
        val wS = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_returnflag")).orderBy(col("v"))
        val est = sample
          .withColumn("rn", row_number().over(wS))
          .withColumn("m", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("l_returnflag"))))
          .where(col("rn") === expr("(m + 1) div 2"))
          .select(col("l_returnflag"), col("m").as("m_sample"),
            col("v").as("est_p50"))
        // exact lower median + the estimate's true rank, both from
        // the ordered distinct-value frame (the q223 idiom)
        val dv = li.groupBy(col("l_returnflag"), col("v"))
          .agg(count(lit(1)).as("c"))
        val wC = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_returnflag")).orderBy(col("v"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        val cum = dv.withColumn("cum", sum(col("c")).over(wC))
          .join(broadcast(ng.select(col("l_returnflag"), col("n"))),
            Seq("l_returnflag"))
        val exact = cum.where(col("cum") >= expr("(n + 1) div 2"))
          .groupBy(col("l_returnflag"))
          .agg(min(col("v")).as("exact_p50"), max(col("n")).as("n"))
        val rankEst = cum.join(est, Seq("l_returnflag"))
          .where(col("v") <= col("est_p50"))
          .groupBy(col("l_returnflag"))
          .agg(max(col("cum")).as("rank_est"))
        est.join(exact, Seq("l_returnflag"))
          .join(rankEst, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("n"), col("m_sample"),
            col("est_p50"), col("exact_p50"),
            expr("(abs(rank_est * 2 - n) * 1000000) div (2 * n)")
              .as("rank_err_ppm"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""WITH li AS (SELECT l_returnflag,
              |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
              |      AS BIGINT) AS v,
              |    ${CorpusOps.oH60(
               "CAST(l_orderkey * 8 + l_linenumber AS VARCHAR)")}
              |      AS rh
              |  FROM lineitem),
              |ng AS (SELECT l_returnflag, COUNT(*) AS n,
              |    CAST((256 * CAST(1152921504606846976 AS HUGEINT))
              |      // COUNT(*) AS BIGINT) AS thresh
              |  FROM li GROUP BY 1),
              |sm AS (SELECT li.l_returnflag, v FROM li
              |  JOIN ng ON li.l_returnflag = ng.l_returnflag
              |  WHERE rh < thresh),
              |est AS (SELECT l_returnflag,
              |    CAST(MAX(m) AS BIGINT) AS m_sample,
              |    MIN(CASE WHEN rn = (m + 1) // 2 THEN v END)
              |      AS est_p50
              |  FROM (SELECT l_returnflag, v,
              |      row_number() OVER (PARTITION BY l_returnflag
              |        ORDER BY v) AS rn,
              |      COUNT(*) OVER (PARTITION BY l_returnflag) AS m
              |    FROM sm)
              |  GROUP BY 1),
              |dv AS (SELECT l_returnflag, v, COUNT(*) AS c FROM li
              |  GROUP BY 1, 2),
              |cum AS (SELECT l_returnflag, v,
              |    SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v
              |      ROWS UNBOUNDED PRECEDING) AS cum
              |  FROM dv),
              |ex AS (SELECT cum.l_returnflag,
              |    MIN(v) AS exact_p50, CAST(MAX(n) AS BIGINT) AS n
              |  FROM cum JOIN ng ON cum.l_returnflag = ng.l_returnflag
              |  WHERE cum >= (n + 1) // 2 GROUP BY 1),
              |re AS (SELECT cum.l_returnflag,
              |    CAST(MAX(cum) AS BIGINT) AS rank_est
              |  FROM cum JOIN est ON cum.l_returnflag = est.l_returnflag
              |  WHERE v <= est_p50 GROUP BY 1)
              |SELECT est.l_returnflag, ex.n, est.m_sample,
              |  est.est_p50, ex.exact_p50,
              |  (abs(re.rank_est * 2 - ex.n) * 1000000) // (2 * ex.n)
              |    AS rank_err_ppm
              |FROM est JOIN ex ON est.l_returnflag = ex.l_returnflag
              |JOIN re ON est.l_returnflag = re.l_returnflag
              |ORDER BY est.l_returnflag""".stripMargin)),

    // ---- Spearman rank correlation (quantity vs extendedprice):
    // the monotone-association twin of the q-row Pearson — rho rides
    // integer doubled average ranks (tie correction costs no
    // fractions), exact DECIMAL moments, one fixed double formula.
    // l_quantity's ~50 distinct values make the tie branch carry
    // real weight; both rank windows run on distinct-value frames.
    QueryDef("q296_spearman",
      (s, dir) => graft.operators.Stats.spearman(
        t("lineitem")(s, dir), "l_quantity", "l_extendedprice"),
      Some("""WITH b AS (SELECT l_quantity AS x, l_extendedprice AS y
              |  FROM lineitem
              |  WHERE l_quantity IS NOT NULL
              |    AND l_extendedprice IS NOT NULL),
              |cx AS (SELECT x, COUNT(*) AS c FROM b GROUP BY 1),
              |rx AS (SELECT x, CAST(2 * SUM(c) OVER (ORDER BY x
              |    ROWS UNBOUNDED PRECEDING) - c + 1
              |    AS DECIMAL(38,0)) AS rxv FROM cx),
              |cy AS (SELECT y, COUNT(*) AS c FROM b GROUP BY 1),
              |ry AS (SELECT y, CAST(2 * SUM(c) OVER (ORDER BY y
              |    ROWS UNBOUNDED PRECEDING) - c + 1
              |    AS DECIMAL(38,0)) AS ryv FROM cy),
              |j AS (SELECT rxv, ryv FROM b
              |  JOIN rx USING (x) JOIN ry USING (y)),
              |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |    CAST(SUM(rxv) AS DOUBLE) AS srx,
              |    CAST(SUM(ryv) AS DOUBLE) AS sry,
              |    CAST(SUM(rxv * ryv) AS DOUBLE) AS srxy,
              |    CAST(SUM(rxv * rxv) AS DOUBLE) AS srxx,
              |    CAST(SUM(ryv * ryv) AS DOUBLE) AS sryy
              |  FROM j),
              |nd AS (SELECT CAST(COUNT(DISTINCT x) AS BIGINT) AS nd_x,
              |    CAST(COUNT(DISTINCT y) AS BIGINT) AS nd_y FROM b)
              |SELECT n, nd_x, nd_y,
              |  ROUND((n * srxy - srx * sry) /
              |    sqrt((n * srxx - srx * srx) *
              |      (n * sryy - sry * sry)), 6) AS rho
              |FROM m, nd""".stripMargin)),

    // ---- approximate functional-dependency audit (g3) over three
    // candidate pairs on part: the key FD (p_partkey→p_brand, holds
    // exactly), a non-dependency (p_brand→p_type, g3 ≈ 77%), and a
    // decorated NEAR-dependency (p_brand→brand_tag where brand_tag
    // is the brand's digit suffix except rows p_partkey%97=0 write a
    // stale 'XX' — the one-bad-feed corruption shape, g3 ≈ 1%; both
    // engines decorate identically, the q264 discipline).
    QueryDef("q297_fd_audit",
      (s, dir) => graft.operators.Stats.fdAudit(
        t("part")(s, dir).withColumn("brand_tag",
          when(col("p_partkey") % 97 === 0, lit("XX"))
            .otherwise(expr("substr(p_brand, 7)"))),
        Seq(("p_partkey", "p_brand"), ("p_brand", "p_type"),
          ("p_brand", "brand_tag"))),
      Some {
        def pairSql(lhs: String, rhs: String) =
          s"""SELECT '$lhs' AS lhs, '$rhs' AS rhs,
             |  CAST(SUM(nn) AS BIGINT) AS n,
             |  CAST(COUNT(*) AS BIGINT) AS n_groups,
             |  CAST(SUM(nn - m) AS BIGINT) AS violations,
             |  CAST((SUM(nn - m) * 1000000) // SUM(nn) AS BIGINT)
             |    AS g3_ppm,
             |  SUM(nn - m) = 0 AS holds
             |FROM (SELECT $lhs, SUM(c) AS nn, MAX(c) AS m
             |  FROM (SELECT $lhs, $rhs, COUNT(*) AS c FROM d
             |    WHERE $lhs IS NOT NULL AND $rhs IS NOT NULL
             |    GROUP BY 1, 2)
             |  GROUP BY 1)""".stripMargin
        s"""WITH d AS (SELECT p_partkey, p_brand, p_type,
           |    CASE WHEN p_partkey % 97 = 0 THEN 'XX'
           |      ELSE substr(p_brand, 7) END AS brand_tag
           |  FROM part)
           |SELECT * FROM (
           |${pairSql("p_partkey", "p_brand")}
           |UNION ALL
           |${pairSql("p_brand", "p_type")}
           |UNION ALL
           |${pairSql("p_brand", "brand_tag")})
           |ORDER BY lhs, rhs""".stripMargin
      }),

    // ---- exact Shapley channel attribution over the events stream:
    // journeys = per-user sets of the four touch channels, coalition
    // values = observed conversion rates in truncated micro, credits
    // = the exact factorial-weighted Shapley sum with one sign-split
    // division by k! — the data-driven attribution model next to the
    // positional q219 row. v(∅) forced 0: direct purchases earn no
    // channel credit.
    QueryDef("q298_shapley_attribution",
      (s, dir) => graft.operators.Funnel.shapleyAttribution(
        t("events")(s, dir), "user_id", "event_type", "purchase",
        Seq("view", "click", "signup", "error")),
      Some("""WITH j AS (SELECT user_id,
              |    BIT_OR(CASE event_type WHEN 'view' THEN 1
              |      WHEN 'click' THEN 2 WHEN 'signup' THEN 4
              |      WHEN 'error' THEN 8 ELSE 0 END) AS m,
              |    MAX(CASE WHEN event_type = 'purchase' THEN 1
              |      ELSE 0 END) AS cv
              |  FROM events GROUP BY 1),
              |co AS (SELECT m, COUNT(*) AS n, SUM(cv) AS c
              |  FROM j GROUP BY 1),
              |v AS (SELECT m, CAST((c * 1000000) // n AS BIGINT) AS vm
              |  FROM co WHERE m <> 0),
              |ch AS (SELECT * FROM (VALUES ('view', 1), ('click', 2),
              |  ('signup', 4), ('error', 8)) t(channel, bit)),
              |lat AS (SELECT unnest(generate_series(0, 15)) AS sm),
              |terms AS (SELECT ch.channel,
              |    (CASE bit_count(lat.sm) WHEN 0 THEN 6 WHEN 1 THEN 2
              |      WHEN 2 THEN 2 ELSE 6 END) *
              |      (COALESCE(v2.vm, 0) - COALESCE(v1.vm, 0)) AS term
              |  FROM ch JOIN lat ON (lat.sm & ch.bit) = 0
              |  LEFT JOIN v v1 ON v1.m = lat.sm
              |  LEFT JOIN v v2 ON v2.m = (lat.sm | ch.bit)),
              |sm AS (SELECT channel, SUM(CAST(term AS HUGEINT)) AS num
              |  FROM terms GROUP BY 1),
              |nw AS (SELECT ch.channel,
              |    CAST(SUM(co.n) AS BIGINT) AS n_journeys
              |  FROM ch JOIN co ON (co.m & ch.bit) <> 0 GROUP BY 1)
              |SELECT sm.channel,
              |  COALESCE(nw.n_journeys, 0) AS n_journeys,
              |  CAST(CASE WHEN num >= 0 THEN num // 24
              |    ELSE -((-num) // 24) END AS BIGINT) AS phi_micro
              |FROM sm LEFT JOIN nw ON sm.channel = nw.channel
              |ORDER BY sm.channel""".stripMargin)),

    // ---- off-policy evaluation (IPS / SNIPS / ESS) of a synthetic
    // target policy against a synthetic logging policy over the
    // events stream — both policies are deterministic literal tables
    // (the q264 decoration discipline: the COMPUTATION is the
    // deliverable; the propensities just have to be identical in
    // both engines). Logging tilts per context c = user_id % 3;
    // target prefers conversion-ish actions context-free; reward =
    // purchase cents. One exact-DECIMAL pass.
    QueryDef("q299_off_policy",
      (s, dir) => {
        val ev = t("events")(s, dir)
          .withColumn("c", col("user_id") % 3)
          .withColumn("p_micro",
            expr("""CASE event_type
              WHEN 'view' THEN 400000 - c * 30000 + CASE WHEN c = 2 THEN 20000 ELSE 0 END
              WHEN 'click' THEN 250000 + CASE WHEN c = 2 THEN 70000 ELSE 0 END
              WHEN 'purchase' THEN 150000 + CASE WHEN c = 1 THEN 50000 ELSE 0 END
              WHEN 'signup' THEN 120000 ELSE 80000 END"""))
          .withColumn("pi_micro",
            expr("""CASE event_type WHEN 'view' THEN 200000
              WHEN 'click' THEN 300000 WHEN 'purchase' THEN 300000
              WHEN 'signup' THEN 150000 ELSE 50000 END"""))
          .withColumn("r_cents",
            when(col("event_type") === "purchase",
              expr("CAST(round(value * 100) AS BIGINT)"))
              .otherwise(lit(0L)))
        graft.operators.Eval.offPolicyValue(
          ev, "p_micro", "pi_micro", "r_cents")
      },
      Some("""WITH d AS (SELECT user_id % 3 AS c, event_type,
              |    CASE WHEN event_type = 'purchase'
              |      THEN CAST(round(value * 100) AS BIGINT)
              |      ELSE 0 END AS r
              |  FROM events),
              |rows_ AS (SELECT
              |    CASE event_type
              |      WHEN 'view' THEN 400000 - c * 30000 +
              |        CASE WHEN c = 2 THEN 20000 ELSE 0 END
              |      WHEN 'click' THEN 250000 +
              |        CASE WHEN c = 2 THEN 70000 ELSE 0 END
              |      WHEN 'purchase' THEN 150000 +
              |        CASE WHEN c = 1 THEN 50000 ELSE 0 END
              |      WHEN 'signup' THEN 120000 ELSE 80000 END AS p,
              |    CASE event_type WHEN 'view' THEN 200000
              |      WHEN 'click' THEN 300000
              |      WHEN 'purchase' THEN 300000
              |      WHEN 'signup' THEN 150000 ELSE 50000 END AS pi,
              |    r FROM d),
              |t AS (SELECT
              |    CAST((CAST(pi AS BIGINT) * 1000000) // p
              |      AS HUGEINT) AS w,
              |    CAST(r AS HUGEINT) AS r FROM rows_
              |  WHERE p IS NOT NULL AND p > 0),
              |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |    SUM(r * w) AS srw, SUM(w) AS sw,
              |    SUM(w * w) AS sw2,
              |    CAST(MAX(w) AS BIGINT) AS max_w_micro
              |  FROM t)
              |SELECT n,
              |  CAST(srw // n AS BIGINT) AS ips_micro,
              |  CAST(CASE WHEN sw > 0 THEN (srw * 1000000) // sw
              |    ELSE 0 END AS BIGINT) AS snips_micro,
              |  CAST(CASE WHEN sw2 > 0
              |    THEN (sw * sw * 1000000) // (n * sw2)
              |    ELSE 0 END AS BIGINT) AS ess_ppm,
              |  max_w_micro
              |FROM m""".stripMargin)))
}
