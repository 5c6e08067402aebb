package graft.queries

import graft.operators.{Classifier, Eval}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 continuation (q201+): the classifier EVALUATION family —
  * the catalog trains (q107) and serves (q104/q108) quality gates but
  * had no operators to measure them. AUC, confusion/PRF, the
  * threshold sweep, and the reliability table close that loop: the
  * measurements a pipeline runs on a labeled holdout before trusting
  * a gate with the corpus.
  *
  * All four rows share one evaluation frame: the q104 hashed-linear
  * score (micro-units margin, exact BIGINT) against the lang='en'
  * label — the same proven score arithmetic, so any drift between
  * serving and evaluation hash-fails here. At 100 TB the eval frame
  * is a labeled HOLDOUT (model-sized), not the corpus — these rows
  * deliberately run it corpus-wide so the oracle exercises the
  * distinct-score-frame contract at full width.
  */
object Round10b {
  /** Oracle CTEs of the LOCF rows: each user's last observed value per
    * day (latest writer wins) over the user's dense calendar,
    * `j(k, day, value)`, NULL on days without an observation. */
  private val oUserDays: String =
    """e AS (SELECT user_id,
      |    CAST(ts AS TIMESTAMP) AS ts, value, event_id
      |  FROM events WHERE ts IS NOT NULL),
      |r AS (SELECT user_id, CAST(ts AS DATE) AS day, value,
      |    row_number() OVER (PARTITION BY user_id,
      |      CAST(ts AS DATE) ORDER BY ts DESC, event_id DESC)
      |      AS rn FROM e),
      |d AS (SELECT user_id AS k, day, value FROM r
      |  WHERE rn = 1),
      |sp AS (SELECT k, MIN(day) AS d0, MAX(day) AS d1 FROM d
      |  GROUP BY k),
      |cal AS (SELECT k, CAST(unnest(generate_series(
      |    CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
      |    INTERVAL 1 DAY)) AS DATE) AS day FROM sp),
      |j AS (SELECT cal.k, cal.day, d.value
      |  FROM cal LEFT JOIN d
      |    ON cal.k = d.k AND cal.day = d.day)""".stripMargin

  /** (doc_id, score, label): exact micro-margin of the q104 fused
    * kernel (truncating div — Spark `div` ≡ DuckDB `//`), label =
    * (lang = 'en'). n_feats > 0 always holds on documents (every doc
    * has ≥ 1 word) but the filter keeps the frame total on any input.
    */
  private def evalFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = t("documents")(s, dir)
    Classifier.hashedLinearScore(docs, "text", "doc_id",
        seed = "cls", buckets = 1 << 18)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .filter(col("n_feats") > 0)
      .select(col("doc_id"),
        expr("(w_milli * 1000) div n_feats").as("score"),
        (col("lang") === "en").cast("int").as("label"))
  }

  /** Oracle twin of [[evalFrame]] — the q104 CTE chain (verbatim
    * feature/bucket/weight arithmetic) ending in
    * `sc(doc_id, score, label)`.
    */
  private val oEvalFrame: String =
    s"""$oHashedWeights,
      |sc AS (SELECT d.doc_id, (s.w_milli * 1000) // s.n_feats AS score,
      |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS label
      |  FROM documents d JOIN s USING (doc_id) WHERE s.n_feats > 0),
      |g AS (SELECT score,
      |    SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS pos,
      |    SUM(CASE WHEN label = 1 THEN 0 ELSE 1 END) AS neg
      |  FROM sc GROUP BY score)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- ROC AUC via the rank/Mann-Whitney formulation with tie
    // correction, exact integer ppm: (2·concordant + ties) over
    // 2·nPos·nNeg, computed on the distinct-score frame (one prefix
    // window — never the nPos·nNeg pair join)
    QueryDef("q201_auc",
      (s, dir) => Eval.rocAuc(evalFrame(s, dir), "score", "label"),
      Some(s"""WITH $oEvalFrame,
              |cum AS (SELECT score, pos, neg,
              |    COALESCE(SUM(neg) OVER (ORDER BY score
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |      0) AS neg_below FROM g),
              |tt AS (SELECT SUM(pos) AS n_pos, SUM(neg) AS n_neg,
              |    SUM(pos * neg_below) AS conc, SUM(pos * neg) AS ties
              |  FROM cum)
              |SELECT CAST(n_pos AS BIGINT) AS n_pos,
              |  CAST(n_neg AS BIGINT) AS n_neg,
              |  CAST(((2 * conc + ties) * 1000000)
              |    // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm
              |FROM tt""".stripMargin)),

    // ---- confusion matrix + accuracy/precision/recall/F1 at the
    // serving threshold (score ≥ 0 ⇔ q104's `keep`): one map-side
    // aggregation, exact ppm, empty denominators null
    QueryDef("q202_confusion",
      (s, dir) => Eval.confusionAtThreshold(evalFrame(s, dir),
        "score", "label", threshold = 0L),
      Some(s"""WITH $oEvalFrame,
              |m AS (SELECT
              |    SUM(CASE WHEN score >= 0 AND label = 1
              |      THEN 1 ELSE 0 END) AS tp,
              |    SUM(CASE WHEN score >= 0 AND label = 0
              |      THEN 1 ELSE 0 END) AS fp,
              |    SUM(CASE WHEN score < 0 AND label = 1
              |      THEN 1 ELSE 0 END) AS fn,
              |    SUM(CASE WHEN score < 0 AND label = 0
              |      THEN 1 ELSE 0 END) AS tn
              |  FROM sc)
              |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
              |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
              |  CAST(((tp + tn) * 1000000) // (tp + fp + fn + tn)
              |    AS BIGINT) AS accuracy_ppm,
              |  CAST(CASE WHEN tp + fp > 0
              |    THEN (tp * 1000000) // (tp + fp) END AS BIGINT)
              |    AS precision_ppm,
              |  CAST(CASE WHEN tp + fn > 0
              |    THEN (tp * 1000000) // (tp + fn) END AS BIGINT)
              |    AS recall_ppm,
              |  CAST(CASE WHEN 2 * tp + fp + fn > 0
              |    THEN (2 * tp * 1000000) // (2 * tp + fp + fn) END
              |    AS BIGINT) AS f1_ppm
              |FROM m""".stripMargin)),

    // ---- full threshold sweep: one ROC/PR point per distinct score
    // (predict positive ⇔ score ≥ v) — the operating-point frame;
    // distinct-score-bounded suffix sums
    QueryDef("q203_threshold_sweep",
      (s, dir) => Eval.thresholdSweep(evalFrame(s, dir),
        "score", "label"),
      Some(s"""WITH $oEvalFrame,
              |c AS (SELECT score,
              |    SUM(pos) OVER (ORDER BY score DESC
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS tp,
              |    SUM(neg) OVER (ORDER BY score DESC
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS fp FROM g),
              |tt AS (SELECT SUM(pos) AS n_pos, SUM(neg) AS n_neg FROM g)
              |SELECT CAST(score AS BIGINT) AS score,
              |  CAST(tp AS BIGINT) AS tp,
              |  CAST(fp AS BIGINT) AS fp,
              |  CAST(CASE WHEN n_pos > 0
              |    THEN (tp * 1000000) // n_pos END AS BIGINT) AS tpr_ppm,
              |  CAST(CASE WHEN n_neg > 0
              |    THEN (fp * 1000000) // n_neg END AS BIGINT) AS fpr_ppm,
              |  CAST(CASE WHEN tp + fp > 0
              |    THEN (tp * 1000000) // (tp + fp) END AS BIGINT)
              |    AS precision_ppm
              |FROM c, tt ORDER BY score""".stripMargin)),

    // ---- reliability table over tie-coherent deciles: equal scores
    // never straddle a bucket (bucket = (cum≤v − 1)·10 div n), which
    // is both the statistically honest calibration cut AND what keeps
    // the computation distinct-score-bounded (no corpus-wide ntile)
    QueryDef("q204_calibration",
      (s, dir) => Eval.calibrationBuckets(evalFrame(s, dir),
        "score", "label", nBuckets = 10),
      Some(s"""WITH $oEvalFrame,
              |cum AS (SELECT score, pos, neg,
              |    SUM(pos + neg) OVER (ORDER BY score
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS cum FROM g),
              |tt AS (SELECT SUM(pos + neg) AS n_all FROM g),
              |bk AS (SELECT ((cum - 1) * 10) // n_all AS bucket,
              |    pos, neg, score FROM cum, tt),
              |a AS (SELECT bucket, SUM(pos + neg) AS n,
              |    SUM(pos) AS n_pos,
              |    SUM(score * (pos + neg)) AS score_sum
              |  FROM bk GROUP BY bucket)
              |SELECT CAST(bucket AS BIGINT) AS bucket,
              |  CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
              |  CAST(score_sum // n AS BIGINT) AS mean_score,
              |  CAST((n_pos * 1000000) // n AS BIGINT) AS pos_rate_ppm
              |FROM a ORDER BY bucket""".stripMargin)),

    // ---- two-sided CUSUM level-shift detection per event type: the
    // order-dependent recursion S_t = max(0, S_{t−1} + d_t) replayed
    // in closed form (reflection: S = C − min(0, min prefix C)) —
    // two shared-partition windows, exact milli-count deviations
    QueryDef("q205_cusum",
      (s, dir) => graft.operators.Anomaly.cusumShifts(
        t("events")(s, dir), "ts", "event_type",
        every = "day", slackMilli = 500L, threshMilli = 5000L),
      Some("""WITH cnt AS (SELECT event_type AS k,
             |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS w0,
             |    COUNT(*) AS c
             |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
             |ref AS (SELECT k, (SUM(c) * 1000) // COUNT(*) AS ref_milli
             |  FROM cnt GROUP BY k),
             |d AS (SELECT cnt.k, w0, c,
             |    c * 1000 - ref_milli - 500 AS d_up,
             |    ref_milli - c * 1000 - 500 AS d_dn
             |  FROM cnt JOIN ref USING (k)),
             |c1 AS (SELECT k, w0, c,
             |    SUM(d_up) OVER (PARTITION BY k ORDER BY w0
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cu,
             |    SUM(d_dn) OVER (PARTITION BY k ORDER BY w0
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cd FROM d),
             |c2 AS (SELECT k, w0, c, cu, cd,
             |    LEAST(MIN(cu) OVER (PARTITION BY k ORDER BY w0
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |      0) AS mu,
             |    LEAST(MIN(cd) OVER (PARTITION BY k ORDER BY w0
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |      0) AS md FROM c1)
             |SELECT k AS event_type, w0 AS window_start,
             |  CAST(c AS BIGINT) AS n_events,
             |  CAST(cu - mu AS BIGINT) AS cusum_up_milli,
             |  CAST(cd - md AS BIGINT) AS cusum_dn_milli,
             |  (cu - mu) > 5000 AS shift_up,
             |  (cd - md) > 5000 AS shift_dn
             |FROM c2 ORDER BY event_type, window_start""".stripMargin)),

    // ---- temperature-scaled mixture (mC4/XLM-R α-sampling, α = ½
    // via IEEE-exact sqrt): derived shares + budget allocation in
    // exact integer ppm — the counterpart of q76's given-share rates
    QueryDef("q206_temperature_mix",
      (s, dir) => graft.operators.Curation.temperatureShares(
        t("documents")(s, dir), "text", "lang",
        alphaHalvings = 1, budget = 100000L),
      Some("""WITH t AS (SELECT lang, SUM(len(list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0))) AS total_tokens
             |  FROM documents GROUP BY lang),
             |w AS (SELECT lang, total_tokens,
             |    CAST(floor(sqrt(CAST(total_tokens AS DOUBLE))
             |      * 1000000.0) AS BIGINT) AS w_micro FROM t),
             |s AS (SELECT SUM(w_micro) AS w_sum,
             |    SUM(total_tokens) AS t_sum FROM w)
             |SELECT lang, CAST(total_tokens AS BIGINT) AS total_tokens,
             |  CAST((total_tokens * 1000000) // t_sum AS BIGINT)
             |    AS natural_ppm,
             |  CAST((w_micro * 1000000) // w_sum AS BIGINT) AS temp_ppm,
             |  CAST((100000 * w_micro) // w_sum AS BIGINT)
             |    AS alloc_tokens
             |FROM w, s ORDER BY lang""".stripMargin)),

    // ---- trailing 7-day exact distinct users per day: the sliding
    // COUNT DISTINCT inverted into a windowDays-bounded fan-out + one
    // distinct aggregation (the oracle deliberately keeps the naive
    // per-day range-join form)
    QueryDef("q207_rolling_distinct",
      (s, dir) => graft.operators.Series.rollingDistinctDaily(
        t("events")(s, dir), "ts", "user_id", windowDays = 7),
      Some("""WITH du AS (SELECT DISTINCT
             |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |    user_id AS ent
             |  FROM events WHERE ts IS NOT NULL),
             |sp AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM du),
             |cal AS (SELECT CAST(unnest(generate_series(
             |    CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
             |    INTERVAL 1 DAY)) AS DATE) AS day FROM sp)
             |SELECT c.day,
             |  CAST(COUNT(DISTINCT du.ent) AS BIGINT) AS n_active
             |FROM cal c LEFT JOIN du
             |  ON du.day BETWEEN c.day - 6 AND c.day
             |GROUP BY c.day ORDER BY c.day""".stripMargin)),

    // ---- incremental aggregate maintenance: per-supplier mergeable
    // state (n / cents sum / extrema) built separately over the
    // pre-cutoff base and the post-cutoff delta, then MERGED — the
    // oracle computes the one-shot aggregate, so merge ≡ recompute is
    // exactly what the hash certifies
    QueryDef("q208_incr_agg_merge",
      (s, dir) => {
        import graft.operators.Rollup
        val li = t("lineitem")(s, dir)
        val cutoff = lit("1997-01-01").cast("date")
        val base = li.filter(col("l_shipdate") < cutoff)
        val delta = li.filter(col("l_shipdate") >= cutoff)
        Rollup.finish(Rollup.merge(
            Rollup.state(base, Seq("l_suppkey"), "l_extendedprice"),
            Rollup.state(delta, Seq("l_suppkey"), "l_extendedprice")))
          .orderBy(col("l_suppkey"))
      },
      Some("""WITH c AS (SELECT l_suppkey,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
             |  FROM lineitem)
             |SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(cents) AS BIGINT) AS sum_c,
             |  CAST(MIN(cents) AS BIGINT) AS min_c,
             |  CAST(MAX(cents) AS BIGINT) AS max_c,
             |  CAST((SUM(cents) * 10000) // COUNT(*) AS BIGINT)
             |    AS avg_micro
             |FROM c GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)),

    // ---- CCNet head/middle/tail perplexity buckets per language:
    // q74's exact micro LM score cut into tie-coherent per-stratum
    // terciles (bucket 2 = head); the oracle replays score AND cut
    QueryDef("q209_ppl_buckets",
      (s, dir) => graft.operators.Curation.pplBuckets(
          t("documents")(s, dir), "text", "doc_id", "lang",
          nBuckets = 3)
        .orderBy(col("doc_id")),
      Some(s"""WITH $oUnigramLogProbs,
             |m AS (SELECT doc_id,
             |    (CASE WHEN s < 0 THEN -1 ELSE 1 END) *
             |      ((CAST(abs(s) * 1000000 AS BIGINT) * 2 + n_tokens)
             |        // (n_tokens * 2)) AS score_micro FROM d),
             |j AS (SELECT m.doc_id, doc.lang, m.score_micro
             |  FROM m JOIN documents doc USING (doc_id)),
             |g AS (SELECT lang, score_micro, COUNT(*) AS cnt
             |  FROM j GROUP BY 1, 2),
             |cum AS (SELECT lang, score_micro,
             |    SUM(cnt) OVER (PARTITION BY lang ORDER BY score_micro
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum FROM g),
             |tot AS (SELECT lang, SUM(cnt) AS n_all FROM g
             |  GROUP BY lang),
             |bk AS (SELECT cum.lang, score_micro,
             |    ((cum - 1) * 3) // n_all AS bucket
             |  FROM cum JOIN tot USING (lang))
             |SELECT j.doc_id, j.lang,
             |  CAST(j.score_micro AS BIGINT) AS score_micro,
             |  CAST(bk.bucket AS BIGINT) AS bucket
             |FROM j JOIN bk ON j.lang = bk.lang
             |  AND j.score_micro = bk.score_micro
             |ORDER BY j.doc_id""".stripMargin)),

    // ---- mutual nearest neighbors (bitext-mining shape): pairs
    // where each side is the other's exact cosine top-1; q28's exact
    // arm + the mutuality self-join (IVF/LSH candidates are the
    // documented scale path, same filter)
    QueryDef("q210_mutual_nn",
      (s, dir) => graft.operators.Similarity.mutualNearestNeighbors(
        t("embeddings")(s, dir)),
      Some("""WITH b AS (SELECT vec_id,
             |    CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
             |p AS (SELECT a.vec_id AS qid, b2.vec_id AS nid,
             |    round(list_dot_product(a.e, b2.e) /
             |      (sqrt(list_dot_product(a.e, a.e)) *
             |       sqrt(list_dot_product(b2.e, b2.e))), 6) AS sim
             |  FROM b a JOIN b b2 ON a.vec_id != b2.vec_id),
             |r AS (SELECT *, row_number() OVER (PARTITION BY qid
             |    ORDER BY sim DESC, nid) AS rk FROM p),
             |t1 AS (SELECT qid, nid, sim FROM r WHERE rk = 1)
             |SELECT x.qid AS a, x.nid AS b, x.sim
             |FROM t1 x JOIN t1 y
             |  ON x.qid = y.nid AND x.nid = y.qid AND x.qid < y.qid
             |ORDER BY a""".stripMargin)),

    // ---- SCD2 point-in-time enrichment: purchases pick up the user
    // `value` version current at purchase time from the login-built
    // SCD2 dimension (the reference's validity-window lookup,
    // fact_customer_task.py:60-61, as a per-row temporal join);
    // purchases before a user's first login stay null (found = false)
    QueryDef("q211_scd2_pit",
      (s, dir) => {
        val eot = lit("2200-01-01 00:00:00").cast("timestamp")
        val ev = t("events")(s, dir)
        val wTie = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("ts"))
          .orderBy(col("event_id").desc)
        val logins = ev.filter(col("event_type") === "signup" ||
            col("event_type") === "click")
          .withColumn("_r", row_number().over(wTie))
          .filter(col("_r") === 1)
          .select(col("user_id"), col("ts"), col("value"))
        val dim = graft.operators.Scd2.build(logins,
            Seq("user_id"), "ts", Seq("value"), eot)
          .select(col("user_id"), col("value"),
            col("valid_from"), col("valid_to"))
        val facts = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        graft.operators.Scd2.pointInTime(facts, dim,
            Seq("user_id"), "ts")
          .orderBy(col("event_id"))
      },
      Some("""WITH ev AS (SELECT event_id, user_id,
             |    CAST(ts AS TIMESTAMP) AS ts, value, event_type
             |  FROM events),
             |lg0 AS (SELECT user_id, ts, value,
             |    row_number() OVER (PARTITION BY user_id, ts
             |      ORDER BY event_id DESC) AS r
             |  FROM ev WHERE event_type IN ('signup', 'click')),
             |lg AS (SELECT user_id, ts, value FROM lg0 WHERE r = 1),
             |ch AS (SELECT *, CASE WHEN value IS NOT DISTINCT FROM
             |      lag(value) OVER (PARTITION BY user_id ORDER BY ts)
             |      THEN 0 ELSE 1 END AS chg,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts)
             |      AS rn FROM lg),
             |f AS (SELECT user_id, value, ts AS valid_from FROM ch
             |  WHERE chg = 1 OR rn = 1),
             |dim AS (SELECT user_id, value, valid_from,
             |    coalesce(lead(valid_from) OVER (PARTITION BY user_id
             |      ORDER BY valid_from),
             |      TIMESTAMP '2200-01-01 00:00:00') AS valid_to
             |  FROM f),
             |fact AS (SELECT event_id, user_id, ts FROM ev
             |  WHERE event_type = 'purchase')
             |SELECT fact.event_id, fact.user_id, fact.ts, dim.value,
             |  dim.valid_from, dim.valid_to,
             |  dim.valid_from IS NOT NULL AS found
             |FROM fact LEFT JOIN dim ON fact.user_id = dim.user_id
             |  AND dim.valid_from <= fact.ts AND fact.ts < dim.valid_to
             |ORDER BY fact.event_id""".stripMargin)),

    // ---- TPC-H Q13 shape (custdist): predicate INSIDE the outer-join
    // condition (the planner must not push it to a WHERE, which would
    // turn the left join inner), double aggregation — per-customer
    // count incl. zero, then the count histogram
    QueryDef("q212_custdist",
      (s, dir) => {
        val c = t("customer")(s, dir)
        val o = t("orders")(s, dir)
        c.join(o,
            c("c_custkey") === o("o_custkey") &&
              o("o_orderpriority") =!= "1-URGENT", "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
             |FROM (SELECT c.c_custkey,
             |    COUNT(o.o_orderkey) AS c_count
             |  FROM customer c LEFT JOIN orders o
             |    ON c.c_custkey = o.o_custkey
             |    AND o.o_orderpriority != '1-URGENT'
             |  GROUP BY c.c_custkey)
             |GROUP BY c_count
             |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // ---- k-core pruning of the shared near-dup pair graph: the
    // dense boilerplate clusters survive (every member keeps ≥ 2
    // surviving neighbors), incidental pairwise matches prune in
    // round 1; 3 rounds, each replayed by the oracle
    QueryDef("q213_kcore",
      (s, dir) => graft.operators.Graph.kCore(
          CorpusOps.sharedJaccardPairs(s, dir), "da", "db",
          k = 2, rounds = 3)
        .withColumnRenamed("node", "doc_id")
        .orderBy(col("doc_id")),
      Some(s"""WITH $oShinglePairs,
              |pairs AS (SELECT da, db FROM p
              |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
              |  WHERE inter / (x.n + y.n - inter) >= 0.6),
              |e0 AS (SELECT DISTINCT s, d FROM (
              |  SELECT da AS s, db AS d FROM pairs WHERE da != db
              |  UNION ALL
              |  SELECT db, da FROM pairs WHERE da != db)),
              |k1 AS (SELECT s FROM e0 GROUP BY s HAVING COUNT(*) >= 2),
              |e1 AS (SELECT e0.s, e0.d FROM e0
              |  JOIN k1 a ON e0.s = a.s JOIN k1 b ON e0.d = b.s),
              |k2 AS (SELECT s FROM e1 GROUP BY s HAVING COUNT(*) >= 2),
              |e2 AS (SELECT e1.s, e1.d FROM e1
              |  JOIN k2 a ON e1.s = a.s JOIN k2 b ON e1.d = b.s),
              |k3 AS (SELECT s FROM e2 GROUP BY s HAVING COUNT(*) >= 2),
              |e3 AS (SELECT e2.s, e2.d FROM e2
              |  JOIN k3 a ON e2.s = a.s JOIN k3 b ON e2.d = b.s)
              |SELECT s AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg
              |FROM e3 GROUP BY s ORDER BY doc_id""".stripMargin)),

    // ---- l-diversity audit (the q192 k-anonymity sibling): within
    // each (nation, balance-band) quasi-identifier group, how many
    // DISTINCT sensitive values (segment) — groups under l leak the
    // attribute even when k-anonymous
    QueryDef("q214_l_diversity",
      (s, dir) => {
        val qi = t("customer")(s, dir)
          .select(col("c_nationkey"),
            floor(col("c_acctbal") / 2000).cast("bigint")
              .as("bal_band"),
            col("c_mktsegment"))
        qi.groupBy(col("c_nationkey"), col("bal_band"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("c_mktsegment")).as("l_distinct"))
          .withColumn("under_l", col("l_distinct") < 3)
          .orderBy(col("c_nationkey"), col("bal_band"))
      },
      Some("""SELECT c_nationkey,
             |  CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT)
             |    AS l_distinct,
             |  COUNT(DISTINCT c_mktsegment) < 3 AS under_l
             |FROM customer GROUP BY 1, 2
             |ORDER BY c_nationkey, bal_band""".stripMargin)),

    // ---- per-column data card over orders: row/null/exact-distinct
    // counts, canonical min/max, modal value + share — the
    // trust-a-new-feed profile, one bounded pass per column
    QueryDef("q215_profile",
      (s, dir) => graft.operators.Stats.profileColumns(
        t("orders")(s, dir),
        Seq("o_orderstatus", "o_orderpriority", "o_totalprice",
          "o_orderdate")),
      Some {
        def one(c: String) =
          s"""SELECT '$c' AS col_name,
             |  CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_null,
             |  CAST(COUNT(DISTINCT CAST($c AS VARCHAR)) AS BIGINT)
             |    AS n_distinct,
             |  CAST(MIN($c) AS VARCHAR) AS min_value,
             |  CAST(MAX($c) AS VARCHAR) AS max_value,
             |  (SELECT v FROM (SELECT CAST($c AS VARCHAR) AS v
             |      FROM orders WHERE $c IS NOT NULL)
             |    GROUP BY v ORDER BY COUNT(*) DESC, v LIMIT 1)
             |    AS top_value,
             |  CAST(((SELECT COUNT(*) FROM orders WHERE $c IS NOT NULL
             |    GROUP BY CAST($c AS VARCHAR)
             |    ORDER BY COUNT(*) DESC LIMIT 1) * 1000000)
             |    // (COUNT(*) - SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0
             |      END)) AS BIGINT) AS top_share_ppm
             |FROM orders""".stripMargin
        Seq("o_orderstatus", "o_orderpriority", "o_totalprice",
          "o_orderdate")
          .map(one).mkString("SELECT * FROM (", " UNION ALL ",
            ") ORDER BY col_name")
      }),

    // ---- TPC-H Q22 shape: scalar-average subquery as an EXACT
    // integer cross-multiplied filter (cents·n > Σcents — no float
    // boundary), NOT EXISTS anti join to orders, per-segment rollup
    QueryDef("q216_wealthy_inactive",
      (s, dir) => {
        val c = t("customer")(s, dir)
          .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE",
            "MACHINERY"))
          .withColumn("cents",
            round(col("c_acctbal") * 100).cast("bigint"))
        val stats = c.filter(col("cents") > 0)
          .agg(count(lit(1)).as("n_pos"),
            sum(col("cents")).as("sum_pos"))
        val rich = c.crossJoin(broadcast(stats))
          .filter(col("cents") * col("n_pos") > col("sum_pos"))
        val recent = t("orders")(s, dir)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("date"))
        val inactive = rich.join(recent,
          col("c_custkey") === col("o_custkey"), "left_anti")
        inactive.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("numcust"),
            sum(col("cents")).as("totacctbal_cents"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""WITH c AS (SELECT c_custkey, c_mktsegment,
             |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
             |  FROM customer
             |  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE',
             |    'MACHINERY')),
             |st AS (SELECT COUNT(*) AS n_pos, SUM(cents) AS sum_pos
             |  FROM c WHERE cents > 0)
             |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS numcust,
             |  CAST(SUM(cents) AS BIGINT) AS totacctbal_cents
             |FROM c, st
             |WHERE c.cents * st.n_pos > st.sum_pos
             |  AND NOT EXISTS (SELECT 1 FROM orders o
             |    WHERE o.o_custkey = c.c_custkey
             |    AND o.o_orderdate >= DATE '2000-01-01')
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ---- RFM lifecycle segmentation: recency/frequency/monetary per
    // customer, each scored into tie-coherent quintiles (three
    // value-cardinality-bounded cuts — never a row-frame sort), exact
    // days/cents throughout
    QueryDef("q217_rfm",
      (s, dir) => graft.operators.Stats.rfmQuintiles(
          t("orders")(s, dir), "o_custkey", "o_orderdate",
          "o_totalprice")
        .orderBy(col("o_custkey")),
      Some {
        def cut(src: String, v: String) =
          s"""${v}g AS (SELECT $v, COUNT(*) AS cnt FROM $src
             |  GROUP BY $v),
             |${v}c AS (SELECT $v, SUM(cnt) OVER (ORDER BY $v
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS cum FROM ${v}g),
             |${v}t AS (SELECT SUM(cnt) AS n_all FROM ${v}g),
             |${v}b AS (SELECT $v, ((cum - 1) * 5) // n_all AS b
             |  FROM ${v}c, ${v}t)""".stripMargin
        s"""WITH base AS (SELECT o_custkey,
           |    MAX(o_orderdate) AS last_ts, COUNT(*) AS f_cnt,
           |    SUM(CAST(round(o_totalprice * 100) AS BIGINT))
           |      AS m_cents
           |  FROM orders GROUP BY o_custkey),
           |mx AS (SELECT MAX(last_ts) AS corpus_max FROM base),
           |b2 AS (SELECT o_custkey,
           |    CAST(date_diff('day', CAST(last_ts AS DATE),
           |      CAST(corpus_max AS DATE)) AS BIGINT) AS r_days,
           |    f_cnt, m_cents FROM base, mx),
           |${cut("b2", "r_days")},
           |${cut("b2", "f_cnt")},
           |${cut("b2", "m_cents")}
           |SELECT b2.o_custkey, b2.r_days,
           |  CAST(b2.f_cnt AS BIGINT) AS f_cnt,
           |  CAST(b2.m_cents AS BIGINT) AS m_cents,
           |  CAST(4 - r_daysb.b AS BIGINT) AS r_score,
           |  CAST(f_cntb.b AS BIGINT) AS f_score,
           |  CAST(m_centsb.b AS BIGINT) AS m_score,
           |  CAST((4 - r_daysb.b) * 100 + f_cntb.b * 10 + m_centsb.b
           |    AS BIGINT) AS rfm_code
           |FROM b2 JOIN r_daysb USING (r_days)
           |  JOIN f_cntb USING (f_cnt) JOIN m_centsb USING (m_cents)
           |ORDER BY b2.o_custkey""".stripMargin
      }),

    // ---- ABC / Pareto classification of parts by exact revenue:
    // cumulative share in ppm over the ITEM frame (catalog-bounded
    // window — the fact stream reduces first), crisp class edges
    QueryDef("q218_abc",
      (s, dir) => graft.operators.Stats.abcClasses(
        t("lineitem")(s, dir), "l_partkey", "l_extendedprice"),
      Some("""WITH base AS (SELECT l_partkey,
             |    SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
             |      AS cents
             |  FROM lineitem GROUP BY l_partkey),
             |t AS (SELECT SUM(cents) AS t_cents FROM base),
             |c AS (SELECT l_partkey, cents,
             |    (SUM(cents) OVER (ORDER BY cents DESC, l_partkey
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      * 1000000) // t_cents AS cum_ppm
             |  FROM base, t)
             |SELECT l_partkey, CAST(cents AS BIGINT) AS cents,
             |  CAST(cum_ppm AS BIGINT) AS cum_ppm,
             |  CASE WHEN cum_ppm <= 800000 THEN 'A'
             |    WHEN cum_ppm <= 950000 THEN 'B' ELSE 'C' END
             |    AS abc_class
             |FROM c ORDER BY cents DESC, l_partkey""".stripMargin)),

    // ---- linear multi-touch attribution: purchase cents split
    // EQUALLY over the user's clicks/views in the prior 3 days,
    // remainder cents to the earliest touches (Σ credits ≡ cents,
    // exactly); no-touch purchases keep full value on a direct row
    QueryDef("q219_attribution",
      (s, dir) => graft.operators.Funnel.linearAttribution(
          t("events")(s, dir), "user_id", "event_type", "ts", "value",
          convType = "purchase", touchTypes = Seq("click", "view"),
          windowDays = 3)
        .orderBy(col("conv_id"), col("touch_id")),
      Some("""WITH ev AS (SELECT event_id, user_id,
             |    CAST(ts AS TIMESTAMP) AS ts, value, event_type
             |  FROM events),
             |p AS (SELECT event_id AS conv_id, user_id, ts AS c_ts,
             |    CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM ev WHERE event_type = 'purchase'),
             |t AS (SELECT event_id AS touch_id, user_id, ts AS t_ts
             |  FROM ev WHERE event_type IN ('click', 'view')),
             |j AS (SELECT p.conv_id, p.cents, t.touch_id, t.t_ts
             |  FROM p LEFT JOIN t ON p.user_id = t.user_id
             |    AND t.t_ts < p.c_ts
             |    AND t.t_ts >= p.c_ts - INTERVAL 3 DAY),
             |k AS (SELECT conv_id, cents, touch_id,
             |    COUNT(touch_id) OVER (PARTITION BY conv_id) AS k,
             |    ROW_NUMBER() OVER (PARTITION BY conv_id
             |      ORDER BY t_ts, touch_id) AS r FROM j)
             |SELECT conv_id, touch_id,
             |  CAST(CASE WHEN touch_id IS NULL THEN cents
             |    ELSE cents // k +
             |      CASE WHEN r <= cents % k THEN 1 ELSE 0 END END
             |    AS BIGINT) AS credit_cents
             |FROM k
             |ORDER BY conv_id, touch_id NULLS FIRST""".stripMargin)),

    // ---- golden-record cluster cards: survivorship over the
    // near-dup CC clusters — canonical member (keep-best: longest
    // text then lowest id), merged langs (sorted distinct), majority
    // lang with lexicographic tie-break
    QueryDef("q220_cluster_cards",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val cc = graft.operators.Dedup.connectedComponents(
          CorpusOps.sharedJaccardPairs(s, dir),
          docs.select(col("doc_id")), "doc_id")
        graft.operators.Dedup.clusterCards(cc, docs,
          "doc_id", "lang", "n_chars")
      },
      Some(s"""WITH RECURSIVE ${CorpusOps.oShinglesSql},
              |hs AS (SELECT doc_id, ${CorpusOps.oH60("s")} AS h FROM sh),
              |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh
              |  GROUP BY doc_id),
              |p AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) AS inter
              |  FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pairs AS (SELECT da, db FROM p
              |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
              |  WHERE inter / (x.n + y.n - inter) >= 0.6),
              |edges AS (SELECT da AS src, db AS dst FROM pairs
              |  UNION ALL SELECT db, da FROM pairs),
              |$oWalk,
              |cc AS (SELECT id, MIN(lbl) AS cluster FROM walk
              |  GROUP BY id),
              |jj AS (SELECT cc.cluster, d.doc_id AS id, d.lang,
              |    d.n_chars AS chars
              |  FROM cc JOIN documents d ON cc.id = d.doc_id),
              |a AS (SELECT cluster, COUNT(*) AS n_docs,
              |    SUM(chars) AS total_chars,
              |    string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs
              |  FROM jj GROUP BY cluster HAVING COUNT(*) >= 2),
              |cn AS (SELECT cluster, id AS canonical_id FROM (
              |    SELECT cluster, id, ROW_NUMBER() OVER (
              |      PARTITION BY cluster ORDER BY chars DESC, id) AS r
              |    FROM jj) WHERE r = 1),
              |lg AS (SELECT cluster, lang AS major_lang FROM (
              |    SELECT cluster, lang, ROW_NUMBER() OVER (
              |      PARTITION BY cluster
              |      ORDER BY COUNT(*) DESC, lang) AS r
              |    FROM jj GROUP BY cluster, lang) WHERE r = 1)
              |SELECT a.cluster, CAST(n_docs AS BIGINT) AS n_docs,
              |  canonical_id, CAST(total_chars AS BIGINT)
              |    AS total_chars, langs, major_lang
              |FROM a JOIN cn USING (cluster) JOIN lg USING (cluster)
              |ORDER BY cluster""".stripMargin)),

    // ---- distributed global sequence numbers: range-bucket + bucket
    // offsets + partitioned within-bucket ranks ≡ row_number() OVER
    // (ORDER BY key) with NO row-frame single-partition window — the
    // oracle deliberately runs the naive global-sort form
    QueryDef("q221_global_rank",
      (s, dir) => graft.operators.Ranks.globalRowNumbers(
          t("orders")(s, dir).select(col("o_orderkey")),
          "o_orderkey", buckets = 256)
        .select(col("o_orderkey"),
          col("global_rank").cast("bigint").as("global_rank"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
             |  CAST(row_number() OVER (ORDER BY o_orderkey) - 1
             |    AS BIGINT) AS global_rank
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- rolling distinct, SKETCH path: per-day HLL registers fanned
    // to their cover days, register-wise MAX (the HLL union), one
    // estimate per day — state ≤ m cells/day at ANY entity
    // cardinality (the q207 exact twin's documented wide-window
    // regime); the oracle replays the register algebra per cover day
    QueryDef("q222_rolling_hll",
      (s, dir) => graft.operators.Series.rollingDistinctHllDaily(
        t("events")(s, dir), "ts", "user_id",
        windowDays = 7, p = 12),
      Some {
        val m = 1L << 12; val r0 = 49
        val c = graft.operators.Cardinality.estimateConst(12)
        s"""WITH du AS (SELECT DISTINCT
           |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           |    user_id AS ent
           |  FROM events WHERE ts IS NOT NULL),
           |h AS (SELECT day, CAST(concat('0x', substr(md5(
           |    concat('hll|', CAST(ent AS VARCHAR))), 1, 15))
           |    AS BIGINT) AS h FROM du),
           |b AS (SELECT day, h % $m AS bucket, h // $m AS q FROM h),
           |r AS (SELECT day, bucket, MAX(CASE WHEN q = 0 THEN $r0
           |    ELSE $r0 - length(bin(q)) END) AS r
           |  FROM b GROUP BY 1, 2),
           |obs AS (SELECT DISTINCT day FROM du),
           |cov AS (SELECT r.day + CAST(t.i AS INTEGER) AS cday,
           |    bucket, r
           |  FROM r, range(0, 7) t(i)),
           |cr AS (SELECT cday, bucket, MAX(r) AS r FROM cov
           |  JOIN obs ON cov.cday = obs.day GROUP BY 1, 2),
           |a AS (SELECT cday,
           |    SUM(CAST(1 AS BIGINT) << ($r0 - r)) AS s_filled,
           |    COUNT(*) AS n_filled FROM cr GROUP BY cday),
           |t2 AS (SELECT cday,
           |    s_filled + ($m - n_filled) *
           |      (CAST(1 AS BIGINT) << $r0) AS s_total,
           |    $m - n_filled AS n_zero FROM a),
           |e AS (SELECT cday, round($c / CAST(s_total AS DOUBLE), 2)
           |    AS est_raw, n_zero FROM t2)
           |SELECT cday AS day,
           |  CASE WHEN est_raw <= ${2.5 * m} AND n_zero > 0
           |    THEN round(${m.toDouble} * ln(${m.toDouble} / n_zero),
           |      2)
           |    ELSE est_raw END AS est_active,
           |  CAST(n_zero AS BIGINT) AS n_zero
           |FROM e ORDER BY day""".stripMargin
      }),

    // ---- volume-weighted median price per return flag: smallest
    // price (exact cents) at which half the shipped QUANTITY sits at
    // or below — the distinct-value-bounded weighted type-1 median
    QueryDef("q223_weighted_median",
      (s, dir) => graft.operators.Quantiles.weightedMedian(
          t("lineitem")(s, dir), Seq("l_returnflag"),
          "l_extendedprice", "l_quantity")
        .orderBy(col("l_returnflag")),
      Some("""WITH c AS (SELECT l_returnflag AS g,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
             |    CAST(l_quantity AS BIGINT) AS w
             |  FROM lineitem
             |  WHERE l_extendedprice IS NOT NULL
             |    AND l_quantity IS NOT NULL),
             |g1 AS (SELECT g, v, SUM(w) AS w FROM c GROUP BY 1, 2),
             |cum AS (SELECT g, v, SUM(w) OVER (PARTITION BY g
             |    ORDER BY v
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS cw FROM g1),
             |tot AS (SELECT g, SUM(w) AS tw FROM g1 GROUP BY g)
             |SELECT cum.g AS l_returnflag,
             |  CAST(tot.tw AS BIGINT) AS total_w,
             |  CAST(MIN(v) AS BIGINT) AS median_cents
             |FROM cum JOIN tot ON cum.g = tot.g
             |WHERE 2 * cw >= tw
             |GROUP BY cum.g, tot.tw
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- trailing 7-day OLS slope of daily volume per event type:
    // five windowed BIGINT moments over the gap-filled series, exact
    // milli-units/day (the windowed cheap cousin of q177's Theil-Sen)
    QueryDef("q224_rolling_slope",
      (s, dir) => graft.operators.Series.rollingSlopeDaily(
          t("events")(s, dir), "event_type", "ts", windowDays = 7)
        .orderBy(col("k"), col("day")),
      Some("""WITH d AS (SELECT event_type AS k,
             |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |    COUNT(*) AS c
             |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
             |sp AS (SELECT k, MIN(day) AS d0, MAX(day) AS d1
             |  FROM d GROUP BY k),
             |cal AS (SELECT k, CAST(unnest(generate_series(
             |    CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
             |    INTERVAL 1 DAY)) AS DATE) AS day FROM sp),
             |dense AS (SELECT cal.k, cal.day, COALESCE(d.c, 0) AS y,
             |    CAST(date_diff('day', DATE '1970-01-01', cal.day)
             |      AS BIGINT) AS x
             |  FROM cal LEFT JOIN d
             |    ON cal.k = d.k AND cal.day = d.day),
             |m AS (SELECT k, day, y,
             |    COUNT(*) OVER w AS n, SUM(x) OVER w AS sx,
             |    SUM(y) OVER w AS sy, SUM(x * y) OVER w AS sxy,
             |    SUM(x * x) OVER w AS sxx
             |  FROM dense WINDOW w AS (PARTITION BY k ORDER BY day
             |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
             |SELECT k, day, CAST(y AS BIGINT) AS n_events,
             |  CAST(CASE WHEN n * sxx - sx * sx != 0
             |    THEN ((n * sxy - sx * sy) * 1000)
             |      // (n * sxx - sx * sx) END AS BIGINT)
             |    AS slope_milli
             |FROM m ORDER BY k, day""".stripMargin)),

    // ---- two-proportion A/B z-test, exact integers end to end: the
    // q126 cross-multiplication discipline at z = 49/25 (z² as the
    // exact rational 2401/625), products in DECIMAL(38,0) headroom —
    // the experiment readout with NO float significance boundary
    QueryDef("q225_ab_ztest",
      (s, dir) => {
        val users = t("events")(s, dir)
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase", 1)
            .otherwise(0)).as("conv"))
          .select((col("user_id") % 2 === 0).as("arm_a"),
            (col("conv") === 1).as("converted"))
        graft.operators.Stats.twoProportionTest(users,
          "arm_a", "converted")
      },
      Some("""WITH u AS (SELECT user_id,
             |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
             |      END) AS conv
             |  FROM events GROUP BY user_id),
             |f AS (SELECT user_id % 2 = 0 AS arm_a, conv = 1 AS cv
             |  FROM u),
             |m AS (SELECT
             |    SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS n_a,
             |    SUM(CASE WHEN arm_a AND cv THEN 1 ELSE 0 END) AS x_a,
             |    SUM(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS n_b,
             |    SUM(CASE WHEN NOT arm_a AND cv THEN 1 ELSE 0 END)
             |      AS x_b
             |  FROM f)
             |SELECT CAST(n_a AS BIGINT) AS n_a,
             |  CAST(x_a AS BIGINT) AS x_a,
             |  CAST(n_b AS BIGINT) AS n_b,
             |  CAST(x_b AS BIGINT) AS x_b,
             |  CAST((x_a * 1000000) // n_a AS BIGINT) AS rate_a_ppm,
             |  CAST((x_b * 1000000) // n_b AS BIGINT) AS rate_b_ppm,
             |  CAST((x_a * 1000000) // n_a - (x_b * 1000000) // n_b
             |    AS BIGINT) AS diff_ppm,
             |  (x_a * n_b - x_b * n_a) * (x_a * n_b - x_b * n_a)
             |    * (n_a + n_b) * 625 >
             |    2401 * (x_a + x_b) * (n_a + n_b - x_a - x_b)
             |    * n_a * n_b AS significant
             |FROM m""".stripMargin)),

    // ---- inter-event gap regularity per user (bot screen): exact
    // CV² of µs gaps via cross-multiplied integer moments in
    // DECIMAL(38,0) headroom — scripted timers read low, humans
    // bursty; the gap multiset depends only on sorted timestamps
    QueryDef("q226_gap_regularity",
      (s, dir) => graft.operators.Anomaly.gapRegularity(
          t("events")(s, dir), "user_id", "ts",
          minGaps = 3, maxCv2Ppm = 250000L)
        .orderBy(col("user_id")),
      Some("""WITH e AS (SELECT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS t
             |  FROM events WHERE ts IS NOT NULL),
             |g AS (SELECT user_id,
             |    t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
             |      AS gap FROM e),
             |a AS (SELECT user_id, COUNT(*) AS n, SUM(gap) AS s,
             |    SUM(CAST(gap AS HUGEINT) * gap) AS q
             |  FROM g WHERE gap IS NOT NULL GROUP BY user_id)
             |SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
             |  CAST(s // n AS BIGINT) AS mean_gap_us,
             |  CAST(CASE WHEN s > 0
             |    THEN ((n * q - CAST(s AS HUGEINT) * s) * 1000000)
             |      // (CAST(s AS HUGEINT) * s) END
             |    AS BIGINT) AS cv2_ppm,
             |  CASE WHEN s > 0
             |    THEN ((n * q - CAST(s AS HUGEINT) * s) * 1000000)
             |      // (CAST(s AS HUGEINT) * s) < 250000
             |  END AS is_regular
             |FROM a WHERE n >= 3 ORDER BY user_id""".stripMargin)),

    // ---- merge overlapping intervals (gaps-and-islands union): each
    // event opens a 30-minute activity window; overlapping/touching
    // windows merge into activity periods per user — two
    // shared-partition windows + one aggregation, one shuffle
    QueryDef("q227_merge_intervals",
      (s, dir) => {
        val iv = t("events")(s, dir)
          .select(col("user_id"), col("ts").as("s0"),
            (col("ts") + expr("INTERVAL 30 MINUTE")).as("e0"))
        graft.operators.RangeJoin.mergeIntervals(iv, "user_id",
          "s0", "e0")
      },
      Some("""WITH iv AS (SELECT user_id,
             |    CAST(ts AS TIMESTAMP) AS s0,
             |    CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS e0
             |  FROM events WHERE ts IS NOT NULL),
             |m AS (SELECT user_id, s0, e0,
             |    MAX(e0) OVER (PARTITION BY user_id ORDER BY s0, e0
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS pmax FROM iv),
             |o AS (SELECT user_id, s0, e0,
             |    CASE WHEN pmax IS NULL OR s0 > pmax THEN 1 ELSE 0
             |      END AS opens FROM m),
             |isl AS (SELECT user_id, s0, e0,
             |    SUM(opens) OVER (PARTITION BY user_id ORDER BY s0, e0
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS island FROM o)
             |SELECT user_id, CAST(island AS BIGINT) AS island,
             |  MIN(s0) AS s, MAX(e0) AS e,
             |  CAST(COUNT(*) AS BIGINT) AS n_merged
             |FROM isl GROUP BY user_id, island
             |ORDER BY user_id, island""".stripMargin)),

    // ---- LOCF forward fill + staleness: each (user, day) carries the
    // last observed event value (latest-writer per day, q53 tie-break)
    // across the dense calendar, with the carried observation's age
    QueryDef("q228_forward_fill",
      (s, dir) => graft.operators.Series.forwardFillDaily(
          t("events")(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("k"), col("day")),
      Some(s"""WITH $oUserDays,
             |f AS (SELECT k, day,
             |    LAST_VALUE(value IGNORE NULLS) OVER w AS v_filled,
             |    MAX(CASE WHEN value IS NOT NULL THEN day END) OVER w
             |      AS last_obs
             |  FROM j WINDOW w AS (PARTITION BY k ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT k, day, v_filled,
             |  CAST(date_diff('day', last_obs, day) AS BIGINT)
             |    AS staleness_days
             |FROM f ORDER BY k, day""".stripMargin)),

    // ---- Neyman allocation: sample budget split ∝ n·σ per return
    // flag — variance in exact integer cents² truncated BEFORE the
    // one IEEE sqrt, so the only float op is bit-identical
    QueryDef("q229_neyman_alloc",
      (s, dir) => graft.operators.Curation.neymanAllocation(
        t("lineitem")(s, dir), "l_returnflag", "l_extendedprice",
        budget = 10000L),
      Some("""WITH c AS (SELECT l_returnflag AS g,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
             |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |m AS (SELECT g, COUNT(*) AS n, SUM(v) AS s,
             |    SUM(CAST(v AS HUGEINT) * v) AS q
             |  FROM c GROUP BY g),
             |w AS (SELECT g, n,
             |    CAST((n * q - CAST(s AS HUGEINT) * s)
             |      // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT)
             |      AS var_cents2
             |  FROM m WHERE n >= 2),
             |w2 AS (SELECT g, n, var_cents2,
             |    CAST(floor(n * sqrt(CAST(var_cents2 AS DOUBLE)))
             |      AS BIGINT) AS weight FROM w),
             |t AS (SELECT SUM(weight) AS wsum FROM w2)
             |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
             |  var_cents2, weight,
             |  CAST((10000 * weight) // wsum AS BIGINT) AS alloc_n
             |FROM w2, t ORDER BY l_returnflag""".stripMargin)),

    // ---- gains/lift decile chart for the q104 classifier: per
    // descending tie-coherent decile, cumulative positive capture and
    // lift over random targeting — the scorecard frame next to q204's
    // reliability table
    QueryDef("q230_gains_table",
      (s, dir) => Eval.gainsTable(evalFrame(s, dir), "score", "label"),
      Some(s"""WITH $oEvalFrame,
              |cumd AS (SELECT score, pos, neg,
              |    SUM(pos + neg) OVER (ORDER BY score DESC
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS cum FROM g),
              |tt AS (SELECT SUM(pos + neg) AS n_all,
              |    SUM(pos) AS pos_all FROM g),
              |bk AS (SELECT ((cum - 1) * 10) // n_all AS bucket,
              |    pos, neg FROM cumd, tt),
              |a AS (SELECT bucket, SUM(pos + neg) AS n,
              |    SUM(pos) AS n_pos FROM bk GROUP BY bucket),
              |c2 AS (SELECT bucket, n, n_pos,
              |    SUM(n_pos) OVER (ORDER BY bucket
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS cum_pos,
              |    SUM(n) OVER (ORDER BY bucket
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS cum_n FROM a)
              |SELECT CAST(bucket AS BIGINT) AS bucket,
              |  CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
              |  CAST(cum_pos AS BIGINT) AS cum_pos,
              |  CAST(CASE WHEN pos_all > 0
              |    THEN (cum_pos * 1000000) // pos_all END AS BIGINT)
              |    AS gain_ppm,
              |  CAST(CASE WHEN pos_all > 0
              |    THEN (cum_pos * n_all * 1000000)
              |      // (pos_all * cum_n) END AS BIGINT) AS lift_ppm
              |FROM c2, tt ORDER BY bucket""".stripMargin)),

    // ---- majority-class next-event baseline: the accuracy floor a
    // sequence model must beat (per-state argmax of the q140
    // transition counts), plus the global-constant floor
    QueryDef("q231_markov_baseline",
      (s, dir) => graft.operators.Funnel.markovBaselineAccuracy(
        t("events")(s, dir), "user_id", "event_type", "ts",
        "event_id"),
      Some("""WITH e AS (SELECT user_id, event_type,
             |    CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
             |t AS (SELECT event_type AS src,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS dst FROM e),
             |tc AS (SELECT src, dst, COUNT(*) AS c FROM t
             |  WHERE dst IS NOT NULL GROUP BY 1, 2),
             |ps AS (SELECT src, MAX(c) AS best, SUM(c) AS tot
             |  FROM tc GROUP BY src),
             |gg AS (SELECT MAX(gc) AS gbest FROM (
             |  SELECT dst, SUM(c) AS gc FROM tc GROUP BY dst)),
             |m AS (SELECT SUM(tot) AS n_transitions,
             |    SUM(best) AS majority_correct FROM ps)
             |SELECT CAST(n_transitions AS BIGINT) AS n_transitions,
             |  CAST(majority_correct AS BIGINT) AS majority_correct,
             |  CAST((majority_correct * 1000000) // n_transitions
             |    AS BIGINT) AS baseline_ppm,
             |  CAST((gbest * 1000000) // n_transitions AS BIGINT)
             |    AS global_majority_ppm
             |FROM m, gg""".stripMargin)),

    // ---- Kaplan-Meier signup→purchase conversion curve: right-
    // censored at last observation (non-converters contribute risk
    // time); hazard exact ppm, log-survival as the q74 pre-rounded
    // decimal sum — distinct-duration-bounded throughout
    QueryDef("q232_kaplan_meier",
      (s, dir) => graft.operators.Funnel.kaplanMeier(
        t("events")(s, dir), "user_id", "event_type", "ts",
        birthType = "signup", deathType = "purchase"),
      Some("""WITH base AS (SELECT user_id AS ent, event_type AS et,
             |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
             |  FROM events),
             |births AS (SELECT ent, MIN(d) AS b FROM base
             |  WHERE et = 'signup' GROUP BY ent),
             |lasts AS (SELECT ent, MAX(d) AS last FROM base
             |  GROUP BY ent),
             |deaths AS (SELECT base.ent, MIN(d) AS dd FROM base
             |  JOIN births ON base.ent = births.ent
             |  WHERE et = 'purchase' AND d >= b GROUP BY base.ent),
             |subj AS (SELECT births.ent,
             |    CAST(date_diff('day', b, COALESCE(dd, last))
             |      AS BIGINT) AS t,
             |    CASE WHEN dd IS NOT NULL THEN 1 ELSE 0 END AS ev
             |  FROM births JOIN lasts ON births.ent = lasts.ent
             |  LEFT JOIN deaths ON births.ent = deaths.ent),
             |byt AS (SELECT t, COUNT(*) AS n_end, SUM(ev) AS d
             |  FROM subj GROUP BY t),
             |tt AS (SELECT SUM(n_end) AS n_total FROM byt),
             |rk AS (SELECT t, n_end, d,
             |    n_total - COALESCE(SUM(n_end) OVER (ORDER BY t
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0) AS n_risk FROM byt, tt),
             |ls AS (SELECT t, n_risk, d,
             |    SUM(CASE WHEN d > 0 AND d < n_risk
             |      THEN CAST(round(ln(1.0 - CAST(d AS DOUBLE)
             |        / n_risk), 6) AS DECIMAL(20,6))
             |      ELSE CAST(0 AS DECIMAL(20,6)) END)
             |      OVER cum AS log_surv,
             |    SUM(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
             |      OVER cum AS anyterm
             |  FROM rk WINDOW cum AS (ORDER BY t
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT t AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
             |  CAST(d AS BIGINT) AS d,
             |  CAST((d * 1000000) // n_risk AS BIGINT) AS hazard_ppm,
             |  CAST(CASE WHEN anyterm = 0
             |    THEN log_surv * 1000000 END AS BIGINT)
             |    AS log_surv_micro
             |FROM ls WHERE d > 0 ORDER BY t_days""".stripMargin)),

    // ---- correlation ratio η² (ANOVA effect size): how much of the
    // price variance the return flag explains — exact integer cents
    // moments, per-group rational truncated once, ppm output
    QueryDef("q233_eta_squared",
      (s, dir) => graft.operators.Stats.etaSquared(
        t("lineitem")(s, dir), "l_returnflag", "l_extendedprice"),
      Some("""WITH c AS (SELECT l_returnflag AS g,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
             |  FROM lineitem WHERE l_extendedprice IS NOT NULL
             |    AND l_returnflag IS NOT NULL),
             |gg AS (SELECT g, COUNT(*) AS ng, SUM(v) AS sg,
             |    SUM(CAST(v AS HUGEINT) * v) AS qg FROM c GROUP BY g),
             |t AS (SELECT SUM(ng) AS n, SUM(sg) AS s, SUM(qg) AS q
             |  FROM gg),
             |u AS (SELECT (CAST(sg AS HUGEINT) * sg) // ng AS u
             |  FROM gg),
             |m AS (SELECT COUNT(*) AS k_groups, SUM(u) AS usum
             |  FROM u),
             |s2 AS (SELECT (CAST(s AS HUGEINT) * s) // n AS s2n
             |  FROM t)
             |SELECT CAST(n AS BIGINT) AS n,
             |  CAST(k_groups AS BIGINT) AS k_groups,
             |  CAST(CASE WHEN q - s2n > 0
             |    THEN ((usum - s2n) * 1000000) // (q - s2n)
             |    END AS BIGINT) AS eta2_ppm
             |FROM m, t, s2""".stripMargin)),

    // ---- Cramér's V² between market segment and nation: χ² over the
    // FULL r×c grid (absent combos still carry E), per-cell rational
    // pre-truncated to micro (q74 discipline), exact ppm
    QueryDef("q234_cramers_v",
      (s, dir) => graft.operators.Stats.cramersV(
        t("customer")(s, dir), "c_mktsegment", "c_nationkey"),
      Some("""WITH cells AS (SELECT c_mktsegment AS a,
             |    c_nationkey AS b, COUNT(*) AS o
             |  FROM customer WHERE c_mktsegment IS NOT NULL
             |    AND c_nationkey IS NOT NULL GROUP BY 1, 2),
             |ra AS (SELECT a, SUM(o) AS ra FROM cells GROUP BY a),
             |cb AS (SELECT b, SUM(o) AS cb FROM cells GROUP BY b),
             |tt AS (SELECT SUM(o) AS n, COUNT(DISTINCT a) AS r,
             |    COUNT(DISTINCT b) AS c FROM cells),
             |grid AS (SELECT ra.a, cb.b, ra.ra, cb.cb,
             |    COALESCE(cells.o, 0) AS o
             |  FROM ra CROSS JOIN cb
             |  LEFT JOIN cells ON ra.a = cells.a AND cb.b = cells.b),
             |terms AS (SELECT
             |    ((CAST(o AS HUGEINT) * n - CAST(ra AS HUGEINT) * cb)
             |     * (CAST(o AS HUGEINT) * n - CAST(ra AS HUGEINT)
             |       * cb) * 1000000)
             |      // (CAST(ra AS HUGEINT) * cb * n) AS term
             |  FROM grid, tt),
             |m AS (SELECT SUM(term) AS chi2 FROM terms)
             |SELECT CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS r,
             |  CAST(c AS BIGINT) AS c,
             |  CAST(chi2 AS BIGINT) AS chi2_micro,
             |  CAST(CASE WHEN LEAST(r, c) > 1
             |    THEN chi2 // (n * (LEAST(r, c) - 1)) END AS BIGINT)
             |    AS v2_ppm
             |FROM m, tt""".stripMargin)),

    // ---- time-weighted average value per user: each day contributes
    // the LOCF in-force value (plain AVG over events over-weights
    // frequent observers); exact micro-currency
    QueryDef("q235_twap",
      (s, dir) => graft.operators.Series.timeWeightedAverage(
          t("events")(s, dir), "user_id", "ts", "value", "event_id")
        .orderBy(col("k")),
      Some(s"""WITH $oUserDays,
             |f AS (SELECT k, day,
             |    LAST_VALUE(value IGNORE NULLS) OVER (PARTITION BY k
             |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
             |      CURRENT ROW) AS v_filled FROM j),
             |a AS (SELECT k, COUNT(*) AS n_days,
             |    SUM(CAST(round(v_filled * 100) AS BIGINT)) AS sc
             |  FROM f GROUP BY k)
             |SELECT k, CAST(n_days AS BIGINT) AS n_days,
             |  CAST((sc * 10000) // n_days AS BIGINT) AS twap_micro
             |FROM a ORDER BY k""".stripMargin)),

    // ---- price elasticity of demand: OLS slope of ln(qty) on
    // ln(unit price) across parts — logs of EXACT integer inputs
    // (cents div qty, total qty), scaled ×100 so olsFit's
    // DECIMAL(18,2) moment pass keeps 4 significant log decimals
    // (slope is scale-invariant when both axes scale)
    QueryDef("q236_elasticity",
      (s, dir) => {
        val pf = t("lineitem")(s, dir)
          .groupBy(col("l_partkey"))
          .agg(sum(round(col("l_extendedprice") * 100)
            .cast("bigint")).as("sc"),
            sum(col("l_quantity").cast("bigint")).as("qt"))
          .filter(col("qt") > 0)
          .select((log(expr("sc div qt")) * 100).as("x"),
            (log(col("qt")) * 100).as("y"))
        graft.operators.Stats.olsFit(pf, "x", "y")
      },
      Some("""WITH pf AS (SELECT l_partkey,
             |    SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
             |      AS sc,
             |    SUM(CAST(l_quantity AS BIGINT)) AS qt
             |  FROM lineitem GROUP BY 1),
             |v AS (SELECT ln(sc // qt) * 100 AS x, ln(qt) * 100 AS y
             |  FROM pf WHERE qt > 0),
             |m AS (SELECT COUNT(*) AS n,
             |    CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(x AS DECIMAL(18,2)) *
             |      CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
             |    CAST(SUM(CAST(x AS DECIMAL(18,2)) *
             |      CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(y AS DECIMAL(18,2)) *
             |      CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS syy
             |  FROM v WHERE x IS NOT NULL AND y IS NOT NULL)
             |SELECT n,
             |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
             |    AS slope,
             |  round((sy - ((n * sxy - sx * sy) /
             |    (n * sxx - sx * sx)) * sx) / n, 6) AS intercept,
             |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
             |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             |    AS r2
             |FROM m""".stripMargin)),

    // ---- cohort LTV curve: revenue per (first-active-week cohort,
    // offset) with running totals and cumulative value per member in
    // exact micro — the monetary sibling of q176's retention triangle
    QueryDef("q237_cohort_ltv",
      (s, dir) => graft.operators.Funnel.cohortLtv(
        t("events")(s, dir), "user_id", "ts", "value",
        revenueType = "purchase", typeCol = "event_type"),
      Some("""WITH act AS (SELECT DISTINCT user_id AS ent,
             |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP))
             |      AS DATE) AS wk FROM events),
             |cohort AS (SELECT ent, MIN(wk) AS c0 FROM act
             |  GROUP BY ent),
             |sizes AS (SELECT c0, COUNT(*) AS n_cohort FROM cohort
             |  GROUP BY c0),
             |rev AS (SELECT cohort.c0 AS cohort_week,
             |    date_diff('day', cohort.c0,
             |      CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP))
             |        AS DATE)) // 7 AS offset_w,
             |    SUM(CAST(round(e.value * 100) AS BIGINT))
             |      AS rev_cents
             |  FROM events e JOIN cohort ON e.user_id = cohort.ent
             |  WHERE e.event_type = 'purchase'
             |  GROUP BY 1, 2),
             |c2 AS (SELECT cohort_week, offset_w, rev_cents,
             |    SUM(rev_cents) OVER (PARTITION BY cohort_week
             |      ORDER BY offset_w
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum_rev_cents FROM rev)
             |SELECT c2.cohort_week,
             |  CAST(c2.offset_w AS BIGINT) AS offset_w,
             |  CAST(rev_cents AS BIGINT) AS rev_cents,
             |  CAST(cum_rev_cents AS BIGINT) AS cum_rev_cents,
             |  CAST(n_cohort AS BIGINT) AS n_cohort,
             |  CAST((cum_rev_cents * 10000) // n_cohort AS BIGINT)
             |    AS ltv_micro
             |FROM c2 JOIN sizes ON c2.cohort_week = sizes.c0
             |ORDER BY cohort_week, offset_w""".stripMargin)),

    // ---- index of dispersion of per-order line counts: var/mean in
    // exact ppm ((nQ − S²)·10⁶ div ((n−1)·S)) — the "is demand
    // Poisson" screen (Poisson ⇒ ≈ 10⁶; clumping reads higher)
    QueryDef("q238_dispersion",
      (s, dir) => {
        val counts = t("lineitem")(s, dir)
          .groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("c"))
        counts.agg(count(lit(1)).as("n_orders"),
            sum(col("c")).as("s"),
            sum(col("c") * col("c")).as("q"))
          .select(col("n_orders"),
            expr("(s * 1000) div n_orders").as("mean_milli"),
            expr("CASE WHEN n_orders > 1 AND s > 0 THEN " +
              "((n_orders * q - s * s) * 1000000) div " +
              "((n_orders - 1) * s) END").as("dispersion_ppm"))
      },
      Some("""WITH c AS (SELECT l_orderkey, COUNT(*) AS c
             |  FROM lineitem GROUP BY l_orderkey),
             |m AS (SELECT COUNT(*) AS n, SUM(c) AS s,
             |    SUM(c * c) AS q FROM c)
             |SELECT CAST(n AS BIGINT) AS n_orders,
             |  CAST((s * 1000) // n AS BIGINT) AS mean_milli,
             |  CAST(CASE WHEN n > 1 AND s > 0 THEN
             |    ((n * q - s * s) * 1000000) // ((n - 1) * s) END
             |    AS BIGINT) AS dispersion_ppm
             |FROM m""".stripMargin)),

    // ---- duplicate-payment screen: same user, same whole-dollar
    // amount, within 24 hours — the fraud/ops audit; the self-join is
    // bounded by the (user, dollars) equi key, time bound
    // post-filters, id ordering emits each pair once
    QueryDef("q239_double_charge",
      (s, dir) => {
        val p = t("events")(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"),
            expr("CAST(round(value * 100) AS BIGINT) div 100")
              .as("dollars"))
        val a = p.select(col("event_id").as("id_a"),
          col("user_id").as("u"), col("ts").as("ts_a"),
          col("dollars"))
        val b = p.select(col("event_id").as("id_b"),
          col("user_id").as("u"), col("ts").as("ts_b"),
          col("dollars"))
        a.join(b, Seq("u", "dollars"))
          .filter(col("id_a") < col("id_b") &&
            col("ts_b") >= col("ts_a") - expr("INTERVAL 24 HOUR") &&
            col("ts_b") <= col("ts_a") + expr("INTERVAL 24 HOUR"))
          .select(col("u").as("user_id"), col("dollars"),
            col("id_a"), col("id_b"))
          .orderBy(col("user_id"), col("id_a"), col("id_b"))
      },
      Some("""WITH p AS (SELECT event_id, user_id,
             |    CAST(ts AS TIMESTAMP) AS ts,
             |    CAST(round(value * 100) AS BIGINT) // 100 AS dollars
             |  FROM events WHERE event_type = 'purchase')
             |SELECT a.user_id, a.dollars,
             |  a.event_id AS id_a, b.event_id AS id_b
             |FROM p a JOIN p b
             |  ON a.user_id = b.user_id AND a.dollars = b.dollars
             |  AND a.event_id < b.event_id
             |  AND b.ts >= a.ts - INTERVAL 24 HOUR
             |  AND b.ts <= a.ts + INTERVAL 24 HOUR
             |ORDER BY a.user_id, id_a, id_b""".stripMargin)),

    // ---- growth accounting: weekly revenue split into NEW (buyer's
    // first-ever purchase week) vs RETURNING — exact cents, one
    // entity-sized first-purchase frame joined back on the entity
    QueryDef("q240_growth_accounting",
      (s, dir) => {
        val p = t("events")(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"),
            to_date(date_trunc("week", col("ts"))).as("wk"),
            round(col("value") * 100).cast("bigint").as("cents"))
        val first = p.groupBy(col("user_id"))
          .agg(min(col("wk")).as("w0"))
        p.join(first, "user_id")
          .groupBy(col("wk"))
          .agg(
            sum(when(col("wk") === col("w0"), col("cents"))
              .otherwise(0L)).as("new_cents"),
            sum(when(col("wk") =!= col("w0"), col("cents"))
              .otherwise(0L)).as("returning_cents"),
            countDistinct(when(col("wk") === col("w0"),
              col("user_id"))).as("new_buyers"),
            countDistinct(when(col("wk") =!= col("w0"),
              col("user_id"))).as("returning_buyers"))
          .orderBy(col("wk"))
      },
      Some("""WITH p AS (SELECT user_id,
             |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP))
             |      AS DATE) AS wk,
             |    CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events WHERE event_type = 'purchase'),
             |f AS (SELECT user_id, MIN(wk) AS w0 FROM p
             |  GROUP BY user_id)
             |SELECT wk,
             |  CAST(SUM(CASE WHEN wk = w0 THEN cents ELSE 0 END)
             |    AS BIGINT) AS new_cents,
             |  CAST(SUM(CASE WHEN wk != w0 THEN cents ELSE 0 END)
             |    AS BIGINT) AS returning_cents,
             |  CAST(COUNT(DISTINCT CASE WHEN wk = w0 THEN user_id
             |    END) AS BIGINT) AS new_buyers,
             |  CAST(COUNT(DISTINCT CASE WHEN wk != w0 THEN user_id
             |    END) AS BIGINT) AS returning_buyers
             |FROM p JOIN f USING (user_id)
             |GROUP BY wk ORDER BY wk""".stripMargin)),

    // ---- SLA attainment: share of order lines shipped within 7 days
    // of order date, split urgent vs rest, per order-month — exact
    // ppm; the fact joins its (broadcastable) order dims once
    QueryDef("q241_sla_attainment",
      (s, dir) => {
        val li = t("lineitem")(s, dir)
          .select(col("l_orderkey"), col("l_shipdate"))
        val o = t("orders")(s, dir)
          .select(col("o_orderkey"), col("o_orderdate"),
            (col("o_orderpriority") === "1-URGENT").as("urgent"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .withColumn("mth",
            to_date(date_trunc("month", col("o_orderdate"))))
          .withColumn("on_time",
            datediff(col("l_shipdate"), col("o_orderdate")) <= 7)
          .groupBy(col("mth"), col("urgent"))
          .agg(count(lit(1)).as("n_lines"),
            sum(when(col("on_time"), 1L).otherwise(0L))
              .as("n_on_time"))
          .withColumn("on_time_ppm",
            expr("(n_on_time * 1000000) div n_lines"))
          .orderBy(col("mth"), col("urgent"))
      },
      Some("""WITH j AS (SELECT
             |    CAST(date_trunc('month', o.o_orderdate) AS DATE)
             |      AS mth,
             |    o.o_orderpriority = '1-URGENT' AS urgent,
             |    date_diff('day', CAST(o.o_orderdate AS DATE),
             |      CAST(l.l_shipdate AS DATE)) <= 7 AS on_time
             |  FROM lineitem l JOIN orders o
             |    ON l.l_orderkey = o.o_orderkey)
             |SELECT mth, urgent,
             |  CAST(COUNT(*) AS BIGINT) AS n_lines,
             |  CAST(SUM(CASE WHEN on_time THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_on_time,
             |  CAST((SUM(CASE WHEN on_time THEN 1 ELSE 0 END)
             |    * 1000000) // COUNT(*) AS BIGINT) AS on_time_ppm
             |FROM j GROUP BY mth, urgent
             |ORDER BY mth, urgent""".stripMargin)),

    // ---- ABC migration matrix: how parts move between revenue
    // classes across a date cutoff — two abcClasses passes over the
    // period slices, one join on the item key, class-pair counts
    QueryDef("q242_abc_migration",
      (s, dir) => {
        import graft.operators.Stats
        val li = t("lineitem")(s, dir)
        val cutoff = lit("1998-01-01").cast("date")
        val before = Stats.abcClasses(
          li.filter(col("l_shipdate") < cutoff),
          "l_partkey", "l_extendedprice")
          .select(col("l_partkey"), col("abc_class").as("class_before"))
        val after = Stats.abcClasses(
          li.filter(col("l_shipdate") >= cutoff),
          "l_partkey", "l_extendedprice")
          .select(col("l_partkey"), col("abc_class").as("class_after"))
        before.join(after, Seq("l_partkey"), "full_outer")
          .select(coalesce(col("class_before"), lit("-"))
            .as("class_before"),
            coalesce(col("class_after"), lit("-")).as("class_after"))
          .groupBy(col("class_before"), col("class_after"))
          .agg(count(lit(1)).as("n_parts"))
          .orderBy(col("class_before"), col("class_after"))
      },
      Some("""WITH mk AS (SELECT l_partkey, l_shipdate,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
             |  FROM lineitem),
             |b0 AS (SELECT l_partkey, SUM(c) AS cents FROM mk
             |  WHERE CAST(l_shipdate AS DATE) < DATE '1998-01-01'
             |  GROUP BY 1),
             |bt AS (SELECT SUM(cents) AS t FROM b0),
             |bc AS (SELECT l_partkey,
             |    CASE WHEN cum <= 800000 THEN 'A'
             |      WHEN cum <= 950000 THEN 'B' ELSE 'C' END AS cb
             |  FROM (SELECT l_partkey,
             |      (SUM(cents) OVER (ORDER BY cents DESC, l_partkey
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
             |        ROW) * 1000000) // t AS cum
             |    FROM b0, bt)),
             |a0 AS (SELECT l_partkey, SUM(c) AS cents FROM mk
             |  WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01'
             |  GROUP BY 1),
             |at2 AS (SELECT SUM(cents) AS t FROM a0),
             |ac AS (SELECT l_partkey,
             |    CASE WHEN cum <= 800000 THEN 'A'
             |      WHEN cum <= 950000 THEN 'B' ELSE 'C' END AS ca
             |  FROM (SELECT l_partkey,
             |      (SUM(cents) OVER (ORDER BY cents DESC, l_partkey
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
             |        ROW) * 1000000) // t AS cum
             |    FROM a0, at2))
             |SELECT COALESCE(cb, '-') AS class_before,
             |  COALESCE(ca, '-') AS class_after,
             |  CAST(COUNT(*) AS BIGINT) AS n_parts
             |FROM bc FULL OUTER JOIN ac USING (l_partkey)
             |GROUP BY 1, 2 ORDER BY class_before, class_after""".stripMargin)),

    // ---- Heaps-law vocabulary growth: cumulative distinct words vs
    // cumulative tokens along the doc-id axis — each word charged to
    // its FIRST document (one min-agg), so the curve is two prefix
    // sums over the doc frame, never a per-prefix distinct
    QueryDef("q243_heaps_law",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val words = graft.operators.TextOps.wordRows(
          t("documents")(s, dir), "text", keep = Seq("doc_id"))
        val toks = words.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"))
        val firsts = words.groupBy(col("word"))
          .agg(min(col("doc_id")).as("doc_id"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_new"))
        val w = Window.orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)
        toks.join(firsts, Seq("doc_id"), "left")
          .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
          .withColumn("cum_vocab",
            sum(coalesce(col("n_new"), lit(0L))).over(w))
          .select(col("doc_id"), col("cum_tokens"), col("cum_vocab"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (SELECT doc_id, unnest(list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0)) AS word FROM documents),
             |tk AS (SELECT doc_id, COUNT(*) AS n_tokens FROM w
             |  GROUP BY doc_id),
             |fs AS (SELECT MIN(doc_id) AS doc_id FROM w
             |  GROUP BY word),
             |fc AS (SELECT doc_id, COUNT(*) AS n_new FROM fs
             |  GROUP BY doc_id),
             |j AS (SELECT tk.doc_id, tk.n_tokens,
             |    COALESCE(fc.n_new, 0) AS n_new
             |  FROM tk LEFT JOIN fc ON tk.doc_id = fc.doc_id)
             |SELECT doc_id,
             |  CAST(SUM(n_tokens) OVER cum AS BIGINT) AS cum_tokens,
             |  CAST(SUM(n_new) OVER cum AS BIGINT) AS cum_vocab
             |FROM j WINDOW cum AS (ORDER BY doc_id
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |ORDER BY doc_id""".stripMargin)))
}
