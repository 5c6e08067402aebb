package graft.queries

import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** Round-11 continuation 7 (q285+): training-data governance ops —
  * cross-split contamination audit, deterministic contrastive negative
  * sampling, and the encoding-health screen (mojibake / control-char /
  * replacement-char detection) that web-scale ingest runs before any
  * tokenizer sees the text.
  */
object Round11g {
  /** Oracle twin of [[TextOps.hashSplit]] at 80/10/10 over an
    * arbitrary key expression (the q46 CASE, factored).
    */
  private def oSplit(key: String, mid: String = "val"): String = {
    val h = CorpusOps.oH60(s"CAST($key AS VARCHAR)")
    s"""CASE WHEN $h % 100 < 80 THEN 'train'
       |    WHEN $h % 100 < 90 THEN '$mid'
       |    ELSE 'test' END""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- cross-split near-duplicate leakage audit: split docs by
    // DOC id (the naive split q46 exists to replace) and count the
    // exact-Jaccard near-dup pairs that straddle split boundaries —
    // the contamination a cluster-keyed split provably zeroes. This
    // is the measurement half of the q46 story: q46 prevents leakage,
    // q285 quantifies what the naive split leaks (Dodge et al. 2021's
    // C4 audit shape). Consumes the shared pair-set artifact
    // (candidate-bounded inverted-index join, never all-pairs); the
    // per-doc split is a pure map-side hash; the pair↔split join is
    // pairs-sized (near-dup pairs ≪ corpus at any scale).
    QueryDef("q285_split_leakage",
      (s, dir) => {
        val split = t("documents")(s, dir).select(col("doc_id"),
          TextOps.hashSplit(col("doc_id"),
            Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("sp"))
        CorpusOps.sharedJaccardPairs(s, dir).select("da", "db")
          .join(split.select(col("doc_id").as("da"),
            col("sp").as("sa")), Seq("da"))
          .join(split.select(col("doc_id").as("db"),
            col("sp").as("sb")), Seq("db"))
          .select(least(col("sa"), col("sb")).as("split_a"),
            greatest(col("sa"), col("sb")).as("split_b"))
          .groupBy(col("split_a"), col("split_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("is_leak", col("split_a") =!= col("split_b"))
          .orderBy(col("split_a"), col("split_b"))
      },
      Some(s"""WITH $oShinglePairs,
              |pairs AS (SELECT da, db FROM p
              |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
              |  WHERE inter / (x.n + y.n - inter) >= 0.6),
              |sp AS (SELECT doc_id, ${oSplit("doc_id")} AS sp
              |  FROM documents),
              |j AS (SELECT LEAST(x.sp, y.sp) AS split_a,
              |    GREATEST(x.sp, y.sp) AS split_b
              |  FROM pairs JOIN sp x ON da = x.doc_id
              |  JOIN sp y ON db = y.doc_id)
              |SELECT split_a, split_b, COUNT(*) AS n_pairs,
              |  split_a <> split_b AS is_leak
              |FROM j GROUP BY 1, 2 ORDER BY split_a, split_b"""
        .stripMargin)),

    // ---- deterministic contrastive negative sampling: k=4 negatives
    // per anchor from a hash-selected pool of 32 docs, excluding the
    // anchor itself and its near-duplicates (false negatives — the
    // standard contrastive-training pitfall), ranked by a pure
    // per-(anchor, candidate) hash so the sample is a function of the
    // data alone (re-runs, engines, and cluster sizes all agree).
    // Scale: the pool is a global top-32-by-hash (TakeOrdered — no
    // single-partition sort) broadcast everywhere; each anchor sees
    // exactly 31 candidates, so the rank window is partition-bounded
    // at 31 rows and total work is linear in anchors. The near-dup
    // exclusion anti-joins the bounded anchor×pool stream against the
    // shared pair artifact.
    QueryDef("q286_negative_sampling",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val pool = docs.select(col("doc_id").as("neg_id"),
            TextOps.hash60(col("doc_id").cast("string")).as("ph"))
          .orderBy(col("ph"), col("neg_id")).limit(32)
          .select("neg_id")
        val anchors = docs.where(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("anchor_id"))
        val pairs = CorpusOps.sharedJaccardPairs(s, dir)
        val pos = pairs.select(col("da").as("anchor_id"),
            col("db").as("neg_id"))
          .union(pairs.select(col("db").as("anchor_id"),
            col("da").as("neg_id")))
        val cand = anchors.crossJoin(broadcast(pool))
          .where(col("neg_id") =!= col("anchor_id"))
          .join(pos, Seq("anchor_id", "neg_id"), "left_anti")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("anchor_id"))
          .orderBy(col("sh"), col("neg_id"))
        cand.withColumn("sh", TextOps.hash60(
            concat(col("anchor_id").cast("string"), lit(":"),
              col("neg_id").cast("string"))))
          .withColumn("neg_rank", row_number().over(w).cast("long"))
          .where(col("neg_rank") <= 4)
          .select(col("anchor_id"), col("neg_id"), col("neg_rank"))
          .orderBy(col("anchor_id"), col("neg_rank"))
      },
      Some(s"""WITH $oShinglePairs,
              |pairs AS (SELECT da, db FROM p
              |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
              |  WHERE inter / (x.n + y.n - inter) >= 0.6),
              |pool AS (SELECT doc_id AS neg_id FROM documents
              |  ORDER BY ${CorpusOps.oH60("CAST(doc_id AS VARCHAR)")},
              |    doc_id LIMIT 32),
              |anch AS (SELECT doc_id AS anchor_id FROM documents
              |  WHERE doc_id % 10 = 0),
              |pos AS (SELECT da AS anchor_id, db AS neg_id FROM pairs
              |  UNION ALL SELECT db, da FROM pairs),
              |cand AS (SELECT anchor_id, neg_id FROM anch, pool
              |  WHERE neg_id <> anchor_id
              |  AND NOT EXISTS (SELECT 1 FROM pos
              |    WHERE pos.anchor_id = anch.anchor_id
              |    AND pos.neg_id = pool.neg_id)),
              |rk AS (SELECT anchor_id, neg_id,
              |    row_number() OVER (PARTITION BY anchor_id ORDER BY
              |      ${CorpusOps.oH60(
                 "CAST(anchor_id AS VARCHAR) || ':' || " +
                   "CAST(neg_id AS VARCHAR)")}, neg_id) AS neg_rank
              |  FROM cand)
              |SELECT anchor_id, neg_id, neg_rank FROM rk
              |WHERE neg_rank <= 4
              |ORDER BY anchor_id, neg_rank""".stripMargin)),

    // ---- encoding-health screen over the corpus, with deterministic
    // per-doc-id damage decoration so every detector fires on the
    // synthetic corpus (the q264 discipline — both engines decorate
    // identically): doc_id%7=0 gets a Latin-1-mojibake suffix
    // ("café" decoded wrong → "cafÃ©"), %11=0 a U+FFFD replacement
    // char, %13=0 a BEL control char. Detection is three
    // length-differencing counts — map-side only, no explode.
    QueryDef("q287_encoding_qa",
      (s, dir) => {
        val moji = " caf\u00C3\u00A9"
        val damaged = t("documents")(s, dir).select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 7 === 0, lit(moji))
              .otherwise(lit("")),
            when(col("doc_id") % 11 === 0, lit("\ufffd"))
              .otherwise(lit("")),
            when(col("doc_id") % 13 === 0, lit("\u0007"))
              .otherwise(lit(""))).as("text"))
        TextOps.encodingQaFlags(damaged, "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, text ||
             |    CASE WHEN doc_id % 7 = 0
             |      THEN ' caf' || chr(195) || chr(169) ELSE '' END ||
             |    CASE WHEN doc_id % 11 = 0 THEN chr(65533)
             |      ELSE '' END ||
             |    CASE WHEN doc_id % 13 = 0 THEN chr(7) ELSE '' END
             |    AS t FROM documents),
             |m AS (SELECT doc_id,
             |    len(t) - len(replace(t, chr(65533), '')) AS n_repl,
             |    len(t) - len(regexp_replace(t,
             |      '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS n_ctrl,
             |    len(t) - len(regexp_replace(t,
             |      '[\xC2\xC3]', '', 'g')) AS n_moji
             |  FROM d)
             |SELECT doc_id, n_repl, n_ctrl, n_moji,
             |  n_repl = 0 AND n_ctrl = 0 AND n_moji = 0 AS is_clean
             |FROM m ORDER BY doc_id""".stripMargin)),

    // ---- co-located bucketed join, hash-gated (upgrades
    // BucketingSpec's spec-only no-shuffle proof to an oracle row —
    // the q125 discipline): both sides written bucketed+sorted on the
    // join key (8 buckets), then joined and aggregated. On a real
    // cluster this is THE way a fact table joined repeatedly on the
    // same key amortizes its shuffle: pay the bucketed write once,
    // every subsequent join runs exchange-free (BucketingSpec asserts
    // 0 shuffles under the same layout). The row charges the bucketed
    // WRITE + the join visibly; the oracle is the plain join.
    QueryDef("q288_bucketed_join",
      (s, dir) => {
        def clean(tbl: String): Unit = {
          s.sql(s"DROP TABLE IF EXISTS $tbl")
          val wh = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir"), tbl)
          val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(wh, true) // leftover dir from a previous JVM
        }
        clean("graft_b_orders"); clean("graft_b_lineitem")
        graft.sink.Bucketing.writeBucketed(
          t("orders")(s, dir).select("o_orderkey", "o_orderpriority"),
          "graft_b_orders", 8, Seq("o_orderkey"))
        graft.sink.Bucketing.writeBucketed(
          t("lineitem")(s, dir).select("l_orderkey", "l_quantity"),
          "graft_b_lineitem", 8, Seq("l_orderkey"))
        s.table("graft_b_orders")
          .join(s.table("graft_b_lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n_items,
              |  ${oSum("l_quantity")} AS sum_qty
              |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              |GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)),

    // ---- zone-map pruning audit ([[graft.sink.Layout.zoneMapAudit]]):
    // would a 3-month shipdate predicate skip row groups under the
    // table's INGEST order (orderkey, linenumber) vs a
    // shipdate-sorted re-cluster? Chunks of 4096 rows stand in for
    // row groups; a chunk prunes when its min/max misses the window —
    // the exact statistics test parquet readers run. The sorted
    // layout prunes nearly everything, ingest order nearly nothing:
    // the measured case for paying the 100 TB re-cluster. Composite
    // orders pack into one BIGINT key (epoch-day·2³³ + orderkey·8 +
    // linenumber — disjoint bit ranges, provably order-preserving
    // and unique); sequence numbers come from the bucketed two-phase
    // globalRowNumbers, so no single-partition sort anywhere.
    QueryDef("q289_pruning_audit",
      (s, dir) => {
        val lo = java.time.LocalDate.parse("1995-03-01").toEpochDay
        val hi = java.time.LocalDate.parse("1995-05-31").toEpochDay
        val li = t("lineitem")(s, dir).select(
          (col("l_orderkey") * 8 + col("l_linenumber"))
            .cast("long").as("k_ingest"),
          datediff(to_date(col("l_shipdate")), to_date(lit("1970-01-01")))
            .cast("long").as("vday"))
          .withColumn("k_sorted",
            col("vday") * lit(8589934592L) + col("k_ingest"))
        graft.sink.Layout.zoneMapAudit(li, "k_ingest", "vday", 4096,
            lit(lo), lit(hi), "ingest")
          .unionAll(graft.sink.Layout.zoneMapAudit(li, "k_sorted",
            "vday", 4096, lit(lo), lit(hi), "shipdate_sorted"))
          .orderBy(col("layout"))
      },
      Some {
        val lo = java.time.LocalDate.parse("1995-03-01").toEpochDay
        val hi = java.time.LocalDate.parse("1995-05-31").toEpochDay
        def arm(key: String, label: String) =
          s"""SELECT '$label' AS layout, COUNT(*) AS n_chunks,
             |  CAST(SUM(CASE WHEN pr THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_pruned,
             |  CAST((SUM(CASE WHEN pr THEN 1 ELSE 0 END) * 1000000)
             |    // COUNT(*) AS BIGINT) AS pruned_ppm,
             |  CAST(SUM(CASE WHEN pr THEN 0 ELSE n END) AS BIGINT)
             |    AS rows_scanned
             |FROM (SELECT ch, COUNT(*) AS n,
             |    MAX(vday) < $lo OR MIN(vday) > $hi AS pr
             |  FROM (SELECT (row_number() OVER (ORDER BY $key) - 1)
             |      // 4096 AS ch, vday FROM li)
             |  GROUP BY ch)""".stripMargin
        s"""WITH li AS (SELECT
           |    l_orderkey * 8 + l_linenumber AS k_ingest,
           |    date_diff('day', DATE '1970-01-01',
           |      CAST(l_shipdate AS DATE)) AS vday,
           |    date_diff('day', DATE '1970-01-01',
           |      CAST(l_shipdate AS DATE)) * 8589934592 +
           |      l_orderkey * 8 + l_linenumber AS k_sorted
           |  FROM lineitem)
           |${arm("k_ingest", "ingest")}
           |UNION ALL
           |${arm("k_sorted", "shipdate_sorted")}
           |ORDER BY layout""".stripMargin
      }),

    // ---- split-conformal prediction intervals (Vovk; the
    // distribution-free calibration a score-based curation model
    // ships with): OLS price~quantity on the train split, |residual|
    // q-hat = ⌈0.9·(n_cal+1)⌉-th order statistic on the calibration
    // split, coverage audited on the held-out test split — the
    // guarantee says ≥90% of test residuals fall within ±q-hat.
    // EXACT integer arithmetic end to end: cents in BIGINT, the OLS
    // closed form in DECIMAL(38,0)/HUGEINT cross-products
    // (n·Σxy − Σx·Σy over n·Σx² − Σx², micro-scaled, sign-split
    // truncating division so Spark div ≡ DuckDB //), and q-hat via a
    // cumulative count over the ordered DISTINCT-residual frame (no
    // corpus-wide row_number). Splits ride hashSplit on the packed
    // unique line key, so membership is a pure function of the data.
    QueryDef("q290_conformal_ols",
      (s, dir) => {
        val d38 = "decimal(38,0)"
        val li = t("lineitem")(s, dir).select(
          TextOps.hashSplit(
            (col("l_orderkey") * 8 + col("l_linenumber")).cast("long"),
            Seq("train" -> 80, "cal" -> 10, "test" -> 10)).as("sp"),
          (col("l_quantity").cast("decimal(12,2)") * 100)
            .cast("long").as("x"),
          (col("l_extendedprice").cast("decimal(12,2)") * 100)
            .cast("long").as("y"))
        val tr = li.where(col("sp") === "train").agg(
          count(lit(1)).as("n_train"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"),
          sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"))
        val fit = tr.select(col("n_train"),
            (col("n_train").cast(d38) * col("sxy") -
              col("sx").cast(d38) * col("sy").cast(d38)).as("num"),
            (col("n_train").cast(d38) * col("sxx") -
              col("sx").cast(d38) * col("sx").cast(d38)).as("den"),
            col("sx"), col("sy"))
          .withColumn("slope_micro", expr(
            "CASE WHEN num < 0 THEN -(((-num) * 1000000) div den) " +
              "ELSE (num * 1000000) div den END").cast("long"))
          .withColumn("intercept_micro", expr(
            "CASE WHEN CAST(sy AS decimal(38,0)) * 1000000 - " +
              "CAST(slope_micro AS decimal(38,0)) * sx < 0 THEN " +
              "-((-(CAST(sy AS decimal(38,0)) * 1000000 - " +
              "CAST(slope_micro AS decimal(38,0)) * sx)) div n_train) " +
              "ELSE (CAST(sy AS decimal(38,0)) * 1000000 - " +
              "CAST(slope_micro AS decimal(38,0)) * sx) div n_train " +
              "END").cast("long"))
          .select("n_train", "slope_micro", "intercept_micro")
        val scored = li.where(col("sp") =!= "train")
          .crossJoin(broadcast(fit))
          .withColumn("r_micro",
            abs(col("y") * lit(1000000L) -
              (col("slope_micro") * col("x") + col("intercept_micro"))))
        val cal = scored.where(col("sp") === "cal")
        val nCal = cal.agg(count(lit(1)).as("n_cal"))
        // q-hat: cumulative counts over the ordered distinct-residual
        // frame (value-cardinality-bounded window, the q223 idiom)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("r_micro"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        val qhat = cal.groupBy(col("r_micro"))
          .agg(count(lit(1)).as("c"))
          .withColumn("cum", sum(col("c")).over(w))
          .crossJoin(broadcast(nCal))
          .where(col("cum") >= expr("(9 * (n_cal + 1) + 9) div 10"))
          .agg(min(col("r_micro")).as("qhat_micro"),
            max(col("n_cal")).as("n_cal"))
        val test = scored.where(col("sp") === "test")
          .crossJoin(broadcast(qhat))
          .agg(max(col("n_cal")).as("n_cal"),
            max(col("qhat_micro")).as("qhat_micro"),
            count(lit(1)).as("n_test"),
            sum(when(col("r_micro") <= col("qhat_micro"), 1L)
              .otherwise(0L)).as("n_covered"))
        fit.crossJoin(test)
          .select(col("n_train"), col("slope_micro"),
            col("intercept_micro"), col("n_cal"), col("qhat_micro"),
            col("n_test"), col("n_covered"),
            expr("(n_covered * 1000000) div n_test")
              .as("coverage_ppm"))
      },
      Some {
        val sp = oSplit("l_orderkey * 8 + l_linenumber", mid = "cal")
        s"""WITH li AS (SELECT $sp AS sp,
           |    CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
           |      AS x,
           |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
           |      AS BIGINT) AS y
           |  FROM lineitem),
           |tr AS (SELECT COUNT(*) AS n_train,
           |    SUM(CAST(x AS HUGEINT)) AS sx,
           |    SUM(CAST(y AS HUGEINT)) AS sy,
           |    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
           |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
           |  FROM li WHERE sp = 'train'),
           |ft AS (SELECT n_train,
           |    CASE WHEN n_train * sxy - sx * sy < 0
           |      THEN -(((-(n_train * sxy - sx * sy)) * 1000000)
           |        // (n_train * sxx - sx * sx))
           |      ELSE ((n_train * sxy - sx * sy) * 1000000)
           |        // (n_train * sxx - sx * sx) END AS slope_micro,
           |    sx, sy FROM tr),
           |ft2 AS (SELECT n_train, CAST(slope_micro AS BIGINT)
           |      AS slope_micro,
           |    CAST(CASE WHEN sy * 1000000 - slope_micro * sx < 0
           |      THEN -((-(sy * 1000000 - slope_micro * sx))
           |        // n_train)
           |      ELSE (sy * 1000000 - slope_micro * sx) // n_train
           |      END AS BIGINT) AS intercept_micro
           |  FROM ft),
           |sc AS (SELECT sp, abs(y * 1000000 -
           |      (slope_micro * x + intercept_micro)) AS r_micro
           |  FROM li, ft2 WHERE sp <> 'train'),
           |nc AS (SELECT COUNT(*) AS n_cal FROM sc WHERE sp = 'cal'),
           |dv AS (SELECT r_micro, COUNT(*) AS c FROM sc
           |  WHERE sp = 'cal' GROUP BY r_micro),
           |cum AS (SELECT r_micro, SUM(c) OVER (ORDER BY r_micro
           |    ROWS UNBOUNDED PRECEDING) AS cum FROM dv),
           |qh AS (SELECT MIN(r_micro) AS qhat_micro,
           |    MAX(n_cal) AS n_cal
           |  FROM cum, nc
           |  WHERE cum >= (9 * (n_cal + 1) + 9) // 10),
           |ts AS (SELECT MAX(n_cal) AS n_cal,
           |    MAX(qhat_micro) AS qhat_micro, COUNT(*) AS n_test,
           |    CAST(SUM(CASE WHEN r_micro <= qhat_micro
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
           |  FROM sc, qh WHERE sp = 'test')
           |SELECT n_train, slope_micro, intercept_micro, n_cal,
           |  qhat_micro, n_test, n_covered,
           |  (n_covered * 1000000) // n_test AS coverage_ppm
           |FROM ft2, ts""".stripMargin
      }),

    // ---- t-closeness audit (completes the q192/q214 privacy triad):
    // per quasi-identifier group, the total-variation distance
    // between the group's sensitive-attribute distribution (segment)
    // and the table-wide one, in exact ppm — a k-anonymous,
    // l-diverse group still leaks when its sensitive mix skews far
    // from global (Li et al. 2007). TVD = ½·Σ_v |p_g(v) − p(v)|
    // over the FULL value domain (values absent from a group
    // contribute the global share), built as groups × broadcast
    // domain with a left join back to group-value counts — the
    // domain frame is value-cardinality-bounded (5 segments), so the
    // group×domain stream is ~5× the group count at any scale.
    QueryDef("q291_t_closeness",
      (s, dir) => {
        val qi = t("customer")(s, dir).select(col("c_nationkey"),
          floor(col("c_acctbal") / 2000).cast("bigint").as("bal_band"),
          col("c_mktsegment"))
        // table total as a one-row broadcast frame (the q254/q292
        // total-crossJoin idiom) — no eager driver-side count() job
        val tot = qi.agg(count(lit(1)).as("_tot"))
        val dom = qi.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("cv"))
          .crossJoin(broadcast(tot))
          .withColumn("p_ppm", expr("(cv * 1000000) div _tot"))
          .select(col("c_mktsegment"), col("p_ppm"))
        val gv = qi.groupBy(col("c_nationkey"), col("bal_band"),
          col("c_mktsegment")).agg(count(lit(1)).as("cgv"))
        val g = qi.groupBy(col("c_nationkey"), col("bal_band"))
          .agg(count(lit(1)).as("n"))
        g.crossJoin(broadcast(dom))
          .join(gv, Seq("c_nationkey", "bal_band", "c_mktsegment"),
            "left")
          .withColumn("pg_ppm",
            expr("(coalesce(cgv, 0) * 1000000) div n"))
          .groupBy(col("c_nationkey"), col("bal_band"))
          .agg(max(col("n")).as("n"),
            (sum(abs(col("pg_ppm") - col("p_ppm"))) / 2)
              .cast("long").as("tvd_ppm"))
          .withColumn("under_t", col("tvd_ppm") > 200000)
          .orderBy(col("c_nationkey"), col("bal_band"))
      },
      Some("""WITH qi AS (SELECT c_nationkey,
             |    CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
             |    c_mktsegment FROM customer),
             |tt AS (SELECT COUNT(*) AS tot FROM qi),
             |dom AS (SELECT c_mktsegment,
             |    (COUNT(*) * 1000000) // tot AS p_ppm
             |  FROM qi, tt GROUP BY c_mktsegment, tot),
             |gv AS (SELECT c_nationkey, bal_band, c_mktsegment,
             |    COUNT(*) AS cgv FROM qi GROUP BY 1, 2, 3),
             |g AS (SELECT c_nationkey, bal_band, COUNT(*) AS n
             |  FROM qi GROUP BY 1, 2)
             |SELECT g.c_nationkey, g.bal_band,
             |  CAST(MAX(g.n) AS BIGINT) AS n,
             |  CAST(SUM(abs((COALESCE(gv.cgv, 0) * 1000000) // g.n
             |    - dom.p_ppm)) // 2 AS BIGINT) AS tvd_ppm,
             |  CAST(SUM(abs((COALESCE(gv.cgv, 0) * 1000000) // g.n
             |    - dom.p_ppm)) // 2 AS BIGINT) > 200000 AS under_t
             |FROM g CROSS JOIN dom
             |LEFT JOIN gv ON gv.c_nationkey = g.c_nationkey
             |  AND gv.bal_band = g.bal_band
             |  AND gv.c_mktsegment = dom.c_mktsegment
             |GROUP BY g.c_nationkey, g.bal_band
             |ORDER BY g.c_nationkey, g.bal_band""".stripMargin)),

    // ---- blocking-quality evaluation (the record-linkage twin of
    // the q274 retrieval metrics): score two candidate blocking
    // schemes against the near-dup ground truth WITHOUT materializing
    // a single candidate pair — candidate counts come from per-block
    // sizes (Σ n_b·(n_b−1)/2), truth recall ("pairs completeness")
    // from whether both ends of each truth pair share a block key.
    // Reduction ratio = 1 − candidates/all-pairs. The measurement
    // that picks a blocking key BEFORE the 100 TB linkage run.
    QueryDef("q292_blocking_eval",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val truth = CorpusOps.sharedJaccardPairs(s, dir)
          .select("da", "db")
        // all-pairs denominator as a one-row broadcast frame (the
        // q254 total-crossJoin idiom) — one fewer eager driver job
        // per run than the previous docs.count() (r11 verdict hygiene)
        val allPairs = docs.agg(
          expr("count(1) * (count(1) - 1) div 2").as("all_pairs"))
        def arm(label: String, key: org.apache.spark.sql.Column) = {
          val keyed = docs.select(col("doc_id"), key.as("bk"))
          val cand = keyed.groupBy(col("bk"))
            .agg(count(lit(1)).as("nb"))
            .agg(count(lit(1)).as("n_blocks"),
              sum(expr("nb * (nb - 1) div 2")).as("n_cand_pairs"))
          val pc = truth
            .join(keyed.select(col("doc_id").as("da"),
              col("bk").as("ka")), Seq("da"))
            .join(keyed.select(col("doc_id").as("db"),
              col("bk").as("kb")), Seq("db"))
            .agg(count(lit(1)).as("n_truth"),
              sum(when(col("ka") === col("kb"), 1L).otherwise(0L))
                .as("n_caught"))
          cand.crossJoin(pc).crossJoin(broadcast(allPairs))
            .select(lit(label).as("scheme"),
              col("n_blocks"), col("n_cand_pairs"),
              expr("1000000 - (n_cand_pairs * 1000000) div all_pairs")
                .as("reduction_ppm"),
              col("n_truth"),
              expr("(n_caught * 1000000) div n_truth")
                .as("completeness_ppm"))
        }
        arm("first_word",
            element_at(TextOps.words(col("text")), 1))
          .unionAll(arm("lang_source",
            concat_ws("|", col("lang"), col("source"))))
          .orderBy(col("scheme"))
      },
      Some(s"""WITH $oShinglePairs,
              |pairs AS (SELECT da, db FROM p
              |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
              |  WHERE inter / (x.n + y.n - inter) >= 0.6),
              |nd AS (SELECT COUNT(*) AS n_docs,
              |    COUNT(*) * (COUNT(*) - 1) // 2 AS all_pairs
              |  FROM documents),
              |k1 AS (SELECT doc_id,
              |    list_filter(string_split_regex(lower(text), '\\s+'),
              |      x -> len(x) > 0)[1] AS bk FROM documents),
              |k2 AS (SELECT doc_id, lang || '|' || source AS bk
              |  FROM documents),
              |c1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
              |    CAST(SUM(nb * (nb - 1) // 2) AS BIGINT)
              |      AS n_cand_pairs
              |  FROM (SELECT bk, COUNT(*) AS nb FROM k1 GROUP BY bk)),
              |c2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
              |    CAST(SUM(nb * (nb - 1) // 2) AS BIGINT)
              |      AS n_cand_pairs
              |  FROM (SELECT bk, COUNT(*) AS nb FROM k2 GROUP BY bk)),
              |t1 AS (SELECT COUNT(*) AS n_truth,
              |    CAST(SUM(CASE WHEN a.bk = b.bk THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_caught
              |  FROM pairs JOIN k1 a ON da = a.doc_id
              |  JOIN k1 b ON db = b.doc_id),
              |t2 AS (SELECT COUNT(*) AS n_truth,
              |    CAST(SUM(CASE WHEN a.bk = b.bk THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_caught
              |  FROM pairs JOIN k2 a ON da = a.doc_id
              |  JOIN k2 b ON db = b.doc_id)
              |SELECT * FROM (
              |SELECT 'first_word' AS scheme, c1.n_blocks,
              |  c1.n_cand_pairs,
              |  1000000 - (c1.n_cand_pairs * 1000000) // all_pairs
              |    AS reduction_ppm,
              |  t1.n_truth,
              |  (t1.n_caught * 1000000) // t1.n_truth
              |    AS completeness_ppm
              |FROM c1, t1, nd
              |UNION ALL
              |SELECT 'lang_source', c2.n_blocks, c2.n_cand_pairs,
              |  1000000 - (c2.n_cand_pairs * 1000000) // all_pairs,
              |  t2.n_truth,
              |  (t2.n_caught * 1000000) // t2.n_truth
              |FROM c2, t2, nd)
              |ORDER BY scheme""".stripMargin)),

    // ---- perceptual-hash (dHash) near-duplicate pairs over the
    // media payload: the image-dedup shape with the codec stubbed
    // deterministically (the container has no image libs — the
    // Spark-side plumbing is the deliverable). The "decode" samples
    // 61 evenly-strided bytes of the blob as grayscale stand-ins
    // (synthetic payloads are the UTF-8 bytes of ASCII text, so byte
    // i ≡ char i — both engines sample via one substr each); dHash
    // bit j = [p(j+1) > p(j)], packed into a 60-bit BIGINT (the repo
    // hash-width discipline: bit 63 would flip the sign). Candidates
    // come from 4 exact-match bands of 15 bits (hamming-LSH: a pair
    // within hamming ≤ τ collides on ≥1 band unless all 4 bands are
    // damaged), verified by popcount(xor) ≤ 10 on the candidate
    // stream only — never all-pairs.
    //
    // Decoration (the q264 discipline, both engines identical): every
    // doc_id%5=0 blob gets a RE-ENCODED twin — one byte perturbed at
    // a deterministic offset, the local-pixel-delta noise a lossy
    // re-save produces. Twins land within hamming ≤ ~3 with 3 clean
    // bands, so the LSH provably catches them; text-level paraphrase
    // pairs measure hamming ≥ 12 here (text bytes lack image
    // smoothness), which is dHash behaving to spec: it dedups
    // re-encodes and crops of the SAME image, not paraphrases —
    // those belong to q25/q26's shingle families.
    QueryDef("q293_phash_neardup",
      (s, dir) => {
        // pixel j: byte at 1 + (j·(len−1)) div 60, j = 0..60
        def px(j: Int) =
          s"ascii(substr(text, CAST(1 + ($j * (length(text) - 1)) " +
            s"div 60 AS INT), 1))"
        val hExpr = (0 until 60).map { j =>
          s"(CASE WHEN ${px(j + 1)} > ${px(j)} " +
            s"THEN ${1L << j}L ELSE 0L END)"
        }.mkString(" + ")
        val docs = t("documents")(s, dir)
        val twins = docs.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000000L).as("doc_id"),
            expr("concat(substr(text, 1, " +
              "CAST((length(text) * 7) div 10 AS INT) - 1), '~', " +
              "substr(text, CAST((length(text) * 7) div 10 AS INT) " +
              "+ 1))").as("text"))
        val sig = docs.select(col("doc_id"), col("text"))
          .unionAll(twins)
          .where(length(col("text")) >= 2)
          .select(col("doc_id"), expr(hExpr).as("ph"))
        val banded = sig.select(col("doc_id"), col("ph"),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"),
              expr(s"shiftright(ph, ${15 * b}) & 32767")
                .as("bv"))): _*)).as("x"))
          .select(col("doc_id"), col("ph"), col("x.band"),
            col("x.bv"))
        banded.as("a").join(banded.as("b"), Seq("band", "bv"))
          .where(col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
            expr("bit_count(a.ph ^ b.ph)").cast("long").as("hamming"))
          .distinct()
          .where(col("hamming") <= 10)
          .orderBy(col("da"), col("db"))
      },
      Some {
        def px(j: Int) =
          s"ascii(substr(text, CAST(1 + ($j * (len(text) - 1)) " +
            s"// 60 AS INT), 1))"
        val hExpr = (0 until 60).map { j =>
          s"(CASE WHEN ${px(j + 1)} > ${px(j)} " +
            s"THEN ${1L << j} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH corpus AS (SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000000,
           |    substr(text, 1,
           |      CAST((len(text) * 7) // 10 AS INT) - 1) || '~' ||
           |    substr(text, CAST((len(text) * 7) // 10 AS INT) + 1)
           |  FROM documents WHERE doc_id % 5 = 0),
           |sig AS (SELECT doc_id, $hExpr AS ph
           |  FROM corpus WHERE len(text) >= 2),
           |banded AS (SELECT doc_id, ph, band,
           |    (ph >> (15 * band)) & 32767 AS bv
           |  FROM sig, unnest([0, 1, 2, 3]) AS u(band)),
           |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
           |    CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
           |  FROM banded a JOIN banded b
           |  ON a.band = b.band AND a.bv = b.bv
           |  AND a.doc_id < b.doc_id)
           |SELECT da, db, hamming FROM cand
           |WHERE hamming <= 10 ORDER BY da, db""".stripMargin
      }))
}
