package graft.queries

import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** Round-12 continuation (q310+): series change-point, feature
  * relevance (WoE/IV), Good-Turing frequency smoothing, and the
  * sequence-padding waste audit.
  */
object Round12b {
  val defs: Seq[QueryDef] = Seq(

    // ---- exact single change-point (binary segmentation, k=1) on
    // the daily event series: the split maximizing the truncated-
    // micro between-segment SSE objective, with segment means and the
    // gain over the no-split fit. Everything after the daily
    // aggregation is calendar-span-bounded (the q269 discipline).
    QueryDef("q310_changepoint",
      (s, dir) => graft.operators.Series.changePointDaily(
        t("events")(s, dir), "ts"),
      Some(s"""WITH $oDenseDays,
             |tot AS (SELECT SUM(CAST(x AS HUGEINT)) AS s_all,
             |    CAST(COUNT(*) AS HUGEINT) AS n_all FROM dense),
             |pref AS (SELECT t, t + 1 AS n_l,
             |    SUM(CAST(x AS HUGEINT)) OVER (ORDER BY t
             |      ROWS UNBOUNDED PRECEDING) AS s_l
             |  FROM dense),
             |cand AS (SELECT t, n_l, s_l,
             |    s_all - s_l AS s_r, n_all - n_l AS n_r,
             |    s_all, n_all,
             |    (s_l * s_l * 1000000) // n_l +
             |    ((s_all - s_l) * (s_all - s_l) * 1000000)
             |      // (n_all - n_l) AS obj
             |  FROM pref, tot WHERE n_l < n_all),
             |best AS (SELECT * FROM cand
             |  ORDER BY obj DESC, t LIMIT 1)
             |SELECT CAST(t AS BIGINT) AS split_t,
             |  CAST(n_l AS BIGINT) AS n_l,
             |  CAST(n_r AS BIGINT) AS n_r,
             |  CAST((s_l * 1000000) // n_l AS BIGINT) AS mean_l_micro,
             |  CAST((s_r * 1000000) // n_r AS BIGINT) AS mean_r_micro,
             |  CAST(obj - (s_all * s_all * 1000000) // n_all
             |    AS BIGINT) AS gain_micro
             |FROM best""".stripMargin)),

    // ---- weight-of-evidence / information value per quantity band:
    // how much does each l_quantity decile band separate returned
    // (l_returnflag = 'R') from kept line items — the feature-
    // relevance report (credit-scoring WoE applied to curation
    // metadata). Laplace-smoothed, rounded-ln micro (q74 discipline),
    // sign-split IV contributions.
    QueryDef("q311_woe_iv",
      (s, dir) => {
        val li = t("lineitem")(s, dir)
          .withColumn("band",
            floor(col("l_quantity") / 10).cast("bigint"))
          .withColumn("label",
            when(col("l_returnflag") === "R", 1L).otherwise(0L))
        graft.operators.Eval.weightOfEvidence(li, "band", "label")
          .orderBy(col("band"))
      },
      Some("""WITH d AS (SELECT CAST(floor(l_quantity / 10) AS BIGINT)
             |    AS band,
             |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
             |      AS label
             |  FROM lineitem),
             |g AS (SELECT band,
             |    CAST(SUM(label) AS BIGINT) AS n_pos,
             |    CAST(SUM(1 - label) AS BIGINT) AS n_neg
             |  FROM d GROUP BY 1),
             |t AS (SELECT SUM(n_pos) AS tp, SUM(n_neg) AS tn,
             |    COUNT(*) AS b FROM g),
             |w AS (SELECT band, n_pos, n_neg,
             |    CAST(CAST(round(ln(
             |      (CAST(n_pos + 1 AS DOUBLE) / (tp + b)) /
             |      (CAST(n_neg + 1 AS DOUBLE) / (tn + b))), 6)
             |      AS DECIMAL(10,6)) * 1000000 AS BIGINT) AS woe_micro,
             |    ((n_pos + 1) * 1000000) // (tp + b) AS ps,
             |    ((n_neg + 1) * 1000000) // (tn + b) AS ns
             |  FROM g, t)
             |SELECT band, n_pos, n_neg, woe_micro,
             |  CAST(CASE WHEN (ps - ns < 0 AND woe_micro > 0)
             |      OR (ps - ns > 0 AND woe_micro < 0)
             |    THEN -(abs((ps - ns) * woe_micro) // 1000000)
             |    ELSE abs((ps - ns) * woe_micro) // 1000000 END
             |    AS BIGINT) AS iv_contrib_micro
             |FROM w ORDER BY band""".stripMargin)),

    // ---- Good-Turing frequency smoothing over the corpus unigram
    // counts (Good 1953; the count-of-counts adjustment LM pipelines
    // run before probability estimation): for the 12 smallest
    // observed counts r, N_r and the smoothed r* = (r+1)·N_{r+1}/N_r
    // in truncating micro (0 when no mass sits at r+1 — the
    // unsmoothed-gap convention); the unseen-mass estimate
    // p₀ = N₁/N rides along on every row. The count-of-counts frame
    // is vocabulary-bounded; only the word count aggregation is
    // corpus-sized.
    QueryDef("q312_good_turing",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wc = TextOps.wordRows(
            t("documents")(s, dir).select(col("doc_id"), col("text")),
            "text", keep = Seq("doc_id"))
          .groupBy(col("word")).agg(count(lit(1)).as("r"))
        val nr = wc.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
        val tot = wc.agg(sum(col("r")).as("n_total"),
          sum(when(col("r") === 1, 1L).otherwise(0L)).as("n_1"))
        val w = Window.orderBy(col("r"))
        nr.withColumn("n_r_next", lead(col("n_r"), 1).over(w))
          .withColumn("r_next", lead(col("r"), 1).over(w))
          .withColumn("_rk", row_number().over(w))
          .where(col("_rk") <= 12).drop("_rk")
          .crossJoin(broadcast(tot))
          .select(col("r"), col("n_r"),
            when(col("r_next") === col("r") + 1,
              expr("((r + 1) * n_r_next * 1000000) div n_r"))
              .otherwise(0L).as("r_star_micro"),
            expr("(n_1 * 1000000) div n_total").as("p0_ppm"))
          .orderBy(col("r"))
      },
      Some("""WITH tok AS (SELECT unnest(list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0)) AS word FROM documents),
             |wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS r
             |  FROM tok GROUP BY 1),
             |nr AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r
             |  FROM wc GROUP BY 1),
             |tot AS (SELECT SUM(r) AS n_total,
             |    CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_1 FROM wc),
             |led AS (SELECT r, n_r,
             |    lead(n_r) OVER (ORDER BY r) AS n_r_next,
             |    lead(r) OVER (ORDER BY r) AS r_next,
             |    row_number() OVER (ORDER BY r) AS rk FROM nr)
             |SELECT r, n_r,
             |  CAST(CASE WHEN r_next = r + 1
             |    THEN ((r + 1) * n_r_next * 1000000) // n_r
             |    ELSE 0 END AS BIGINT) AS r_star_micro,
             |  CAST((n_1 * 1000000) // n_total AS BIGINT) AS p0_ppm
             |FROM led, tot WHERE rk <= 12 ORDER BY r""".stripMargin)),

    // ---- sequence-padding waste audit: pack documents into
    // power-of-two length buckets (the bucketed-batching trick) vs
    // padding everything to the 1024 cap, and report per-bucket token
    // counts, padding, and waste ppm — the measurement that decides
    // whether bucketed batching pays before a training run. Fixed
    // literal bucket ladder (engine-identical); docs over the cap
    // clamp to 1024 with their overflow tokens counted as truncated.
    QueryDef("q313_padding_waste",
      (s, dir) => {
        val len = size(TextOps.words(col("text"))).cast("long")
        val clamped = least(len, lit(1024L))
        val bucket = when(clamped <= 16, 16L)
          .when(clamped <= 32, 32L).when(clamped <= 64, 64L)
          .when(clamped <= 128, 128L).when(clamped <= 256, 256L)
          .when(clamped <= 512, 512L).otherwise(1024L)
        val docs = t("documents")(s, dir).select(
          clamped.as("len"), bucket.as("bucket"),
          (len - clamped).as("truncated"))
        def arm(label: String, b: org.apache.spark.sql.Column) =
          docs.groupBy(b.as("bucket"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("len")).as("n_tokens"),
              sum(b - col("len")).as("n_padding"),
              sum(col("truncated")).as("n_truncated"))
            .select(lit(label).as("scheme"), col("bucket"),
              col("n_docs"), col("n_tokens"), col("n_padding"),
              expr("(n_padding * 1000000) div " +
                "(n_padding + n_tokens)").as("waste_ppm"),
              col("n_truncated"))
        arm("bucketed", col("bucket"))
          .unionAll(arm("fixed", lit(1024L)))
          .orderBy(col("scheme"), col("bucket"))
      },
      Some("""WITH d AS (SELECT LEAST(CAST(len(list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0)) AS BIGINT), 1024) AS len,
             |    GREATEST(CAST(len(list_filter(string_split_regex(
             |      lower(text), '\s+'), x -> len(x) > 0)) AS BIGINT)
             |      - 1024, 0) AS truncated
             |  FROM documents),
             |b AS (SELECT len, truncated, CASE
             |    WHEN len <= 16 THEN 16 WHEN len <= 32 THEN 32
             |    WHEN len <= 64 THEN 64 WHEN len <= 128 THEN 128
             |    WHEN len <= 256 THEN 256 WHEN len <= 512 THEN 512
             |    ELSE 1024 END AS bucket FROM d),
             |a AS (SELECT 'bucketed' AS scheme, bucket,
             |    CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(len) AS BIGINT) AS n_tokens,
             |    CAST(SUM(bucket - len) AS BIGINT) AS n_padding,
             |    CAST(SUM(truncated) AS BIGINT) AS n_truncated
             |  FROM b GROUP BY 2
             |  UNION ALL
             |  SELECT 'fixed', 1024, CAST(COUNT(*) AS BIGINT),
             |    CAST(SUM(len) AS BIGINT),
             |    CAST(SUM(1024 - len) AS BIGINT),
             |    CAST(SUM(truncated) AS BIGINT)
             |  FROM b)
             |SELECT scheme, CAST(bucket AS BIGINT) AS bucket, n_docs,
             |  n_tokens, n_padding,
             |  (n_padding * 1000000) // (n_padding + n_tokens)
             |    AS waste_ppm,
             |  n_truncated
             |FROM a ORDER BY scheme, bucket""".stripMargin)),

    // ---- hard-negative mining for contrastive training: per query
    // (doc-as-query, the q274 setup), the top BM25 hits that are NOT
    // relevant (word-overlap pseudo-truth) become the hard negatives,
    // each with its rank and its margin below the query's best
    // POSITIVE hit — the (anchor, negative, difficulty) frame an
    // embedding-model run trains on. Everything rides the shared TF
    // artifact; scoring is posting-list-bounded.
    QueryDef("q314_hard_negatives",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t("documents")(s, dir)
        val qdf = docs.where(col("doc_id") % 20 === 0)
          .select(col("doc_id").as("query_id"),
            array_join(slice(TextOps.words(col("text")), 1, 5), " ")
              .as("qtext"))
        val tf = Round9b.sharedTf(s, dir)
        // the q274 scored-frame artifact, ranked self-excluded (the
        // exclusion commutes with scoring — per-pair scores are
        // independent); one scoring pass serves both rows
        val ranked = graft.operators.Retrieval.topKFromScores(
          Round11f.sharedDocQueryScores(s, dir), k = 10,
          excludeSelf = true)
        val qw = qdf.select(col("query_id"),
          explode(TextOps.words(col("qtext"))).as("word")).distinct()
        val truth = qw.join(tf.select(col("doc_id"), col("word")),
            "word")
          .groupBy(col("query_id"), col("doc_id"))
          .agg(count(lit(1)).as("ov"))
          .where(col("ov") >= 4)
          .select(col("query_id"), col("doc_id"))
        val flagged = ranked.join(
          truth.withColumn("rel", lit(true)),
          Seq("query_id", "doc_id"), "left")
        val bestPos = flagged.where(col("rel"))
          .groupBy(col("query_id"))
          .agg(max(col("score")).as("best_pos"))
        flagged.where(col("rel").isNull)
          .join(bestPos, Seq("query_id"), "left")
          .select(col("query_id"), col("doc_id").as("neg_id"),
            col("rank"), col("score"),
            // margin below the best positive, exact micro of the
            // decimal-summed scores; queries with NO positive in the
            // top-k report null (stated convention)
            ((col("best_pos").cast("decimal(20,6)") -
              col("score").cast("decimal(20,6)")) * 1000000)
              .cast("bigint").as("margin_micro"))
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH ${graft.operators.Retrieval.bm25OracleCtesQr(
                 """qr(query_id, qtext) AS (SELECT doc_id,
                   |  array_to_string(list_filter(string_split_regex(
                   |    lower(text), '\s+'), x -> len(x) > 0)[1:5], ' ')
                   |  FROM documents WHERE doc_id % 20 = 0)"""
                   .stripMargin, 1.2, 0.75)},
              |rk AS (SELECT query_id, doc_id, score,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY score DESC, doc_id) AS rank
              |  FROM sc WHERE doc_id <> query_id),
              |tk AS (SELECT * FROM rk WHERE rank <= 10),
              |dw AS (SELECT DISTINCT doc_id, word FROM tfc),
              |trh AS (SELECT qt.query_id, dw.doc_id FROM qt
              |  JOIN dw USING (word) GROUP BY 1, 2
              |  HAVING COUNT(*) >= 4),
              |fl AS (SELECT tk.query_id, tk.doc_id, tk.score,
              |    tk.rank, trh.doc_id IS NOT NULL AS rel
              |  FROM tk LEFT JOIN trh ON tk.query_id = trh.query_id
              |    AND tk.doc_id = trh.doc_id),
              |bp AS (SELECT query_id, MAX(score) AS best_pos
              |  FROM fl WHERE rel GROUP BY 1)
              |SELECT fl.query_id, fl.doc_id AS neg_id,
              |  CAST(fl.rank AS BIGINT) AS rank, fl.score,
              |  CAST((CAST(bp.best_pos AS DECIMAL(20,6)) -
              |    CAST(fl.score AS DECIMAL(20,6))) * 1000000
              |    AS BIGINT) AS margin_micro
              |FROM fl LEFT JOIN bp USING (query_id)
              |WHERE NOT fl.rel
              |ORDER BY fl.query_id, fl.rank""".stripMargin)),

    // ---- dataset card (the datasheet row a corpus release ships
    // with): one exact-integer row summarizing the corpus — sizes,
    // language/source coverage, exact-duplicate rate (normalized-text
    // fingerprints), near-duplicate involvement (the shared truth
    // pairs), short-doc rate, token-length mean — every number
    // replayed by the oracle. The capstone composition over the
    // shared artifacts; each input is one aggregation.
    QueryDef("q315_dataset_card",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val base = docs.agg(
          count(lit(1)).as("n_docs"),
          sum(size(TextOps.words(col("text"))).cast("long"))
            .as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(TextOps.fingerprint(col("text"))).as("_n_fp"),
          sum(when(size(TextOps.words(col("text"))) < 20, 1L)
            .otherwise(0L)).as("_n_short"))
        val nearDup = CorpusOps.sharedJaccardPairs(s, dir)
          .select(explode(array(col("da"), col("db"))).as("doc_id"))
          .distinct().agg(count(lit(1)).as("_n_neardup"))
        base.crossJoin(broadcast(nearDup))
          .select(col("n_docs"), col("n_tokens"), col("n_langs"),
            col("n_sources"),
            expr("((n_docs - _n_fp) * 1000000) div n_docs")
              .as("exact_dup_ppm"),
            expr("(_n_neardup * 1000000) div n_docs")
              .as("neardup_ppm"),
            expr("(_n_short * 1000000) div n_docs")
              .as("short_doc_ppm"),
            expr("(n_tokens * 1000000) div n_docs")
              .as("mean_tokens_micro"))
      },
      Some(s"""WITH $oShinglePairs,
              |pairs AS (SELECT da, db FROM p
              |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
              |  WHERE inter / (x.n + y.n - inter) >= 0.6),
              |nd AS (SELECT COUNT(*) AS n_neardup FROM (
              |  SELECT DISTINCT doc_id FROM (
              |    SELECT da AS doc_id FROM pairs
              |    UNION ALL SELECT db FROM pairs))),
              |wd AS (SELECT doc_id, lang, source,
              |    list_filter(string_split_regex(lower(text), '\\s+'),
              |      x -> len(x) > 0) AS ws FROM documents),
              |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              |    CAST(SUM(len(ws)) AS BIGINT) AS n_tokens,
              |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
              |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
              |    CAST(COUNT(DISTINCT md5(array_to_string(ws, ' ')))
              |      AS BIGINT) AS n_fp,
              |    CAST(SUM(CASE WHEN len(ws) < 20 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_short
              |  FROM wd)
              |SELECT n_docs, n_tokens, n_langs, n_sources,
              |  ((n_docs - n_fp) * 1000000) // n_docs AS exact_dup_ppm,
              |  (n_neardup * 1000000) // n_docs AS neardup_ppm,
              |  (n_short * 1000000) // n_docs AS short_doc_ppm,
              |  (n_tokens * 1000000) // n_docs AS mean_tokens_micro
              |FROM b, nd""".stripMargin)),

    // ---- per-GROUP heavy hitters: top-5 terms per language via the
    // group-keyed Misra-Gries candidate sketch + exact verify — a key
    // heavy in one small language is never diluted by the corpus-wide
    // tail (the failure mode of filtering a GLOBAL sketch by group).
    // The oracle is plain exact counts + a rank window: the sketch's
    // candidates provably cover every true per-group heavy hitter at
    // this capacity.
    QueryDef("q316_heavy_hitters_by_lang",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val words = TextOps.wordRows(
          t("documents")(s, dir).select(col("lang"), col("text")),
          "text", keep = Seq("lang"))
        val counts = graft.operators.Freq.heavyHitterCountsBy(
          words, Seq("lang"), "word", capacity = 4096)
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("n_rows").desc, col("word"))
        counts.withColumn("rank", row_number().over(w).cast("bigint"))
          .where(col("rank") <= 5)
          .orderBy(col("lang"), col("rank"))
      },
      Some("""WITH tok AS (SELECT lang, unnest(list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0)) AS word FROM documents),
             |c AS (SELECT lang, word,
             |    CAST(COUNT(*) AS BIGINT) AS n_rows
             |  FROM tok GROUP BY 1, 2),
             |r AS (SELECT *, row_number() OVER (PARTITION BY lang
             |    ORDER BY n_rows DESC, word) AS rank FROM c)
             |SELECT lang, word, n_rows, CAST(rank AS BIGINT) AS rank
             |FROM r WHERE rank <= 5
             |ORDER BY lang, rank""".stripMargin)),

    // ---- embedding-column ingest QA: zero-norm vectors, non-finite
    // components, dimension drift, and the norm range — the hygiene
    // screen an embedding pipeline runs before any index build (a
    // zero vector makes cosine undefined; a NaN poisons every
    // aggregation it touches). Defects are DECORATED deterministically
    // (q264 discipline): vec_id%11=0 zeroed, vec_id%13=0 first
    // component NaN'd, vec_id%17=0 truncated to 32 dims.
    QueryDef("q317_embedding_qa",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        val e0 = col("embedding")
        val deco = when(col("vec_id") % 11 === 0,
            transform(e0, _ => lit(0.0f)))
          .when(col("vec_id") % 13 === 0,
            concat(array(lit(Float.NaN)), slice(e0, 2, 63)))
          .when(col("vec_id") % 17 === 0, slice(e0, 1, 32))
          .otherwise(e0)
        val d = emb.select(col("vec_id"), deco.as("e"))
          .withColumn("n_dims", size(col("e")).cast("long"))
          .withColumn("n_bad", size(filter(col("e"),
            v => isnan(v) || v === Float.PositiveInfinity ||
              v === Float.NegativeInfinity)).cast("long"))
          .withColumn("nrm2",
            aggregate(col("e"), lit(0.0),
              (acc, v) => acc + v.cast("double") * v.cast("double")))
        d.agg(count(lit(1)).as("n_vecs"),
          sum(when(col("n_bad") > 0, 1L).otherwise(0L))
            .as("n_nonfinite"),
          sum(when(col("n_bad") === 0 && col("nrm2") === 0.0, 1L)
            .otherwise(0L)).as("n_zero_norm"),
          countDistinct(col("n_dims")).as("n_dims_distinct"),
          max(when(col("n_bad") === 0,
            round(sqrt(col("nrm2")), 6))).as("norm_max"),
          min(when(col("n_bad") === 0 && col("nrm2") > 0.0,
            round(sqrt(col("nrm2")), 6))).as("norm_min_nonzero"))
      },
      Some("""WITH d AS (SELECT vec_id, CASE
             |    WHEN vec_id % 11 = 0 THEN list_transform(
             |      CAST(embedding AS DOUBLE[]), x -> 0.0)
             |    WHEN vec_id % 13 = 0 THEN ['NaN'::DOUBLE] ||
             |      CAST(embedding AS DOUBLE[])[2:64]
             |    WHEN vec_id % 17 = 0
             |      THEN CAST(embedding AS DOUBLE[])[1:32]
             |    ELSE CAST(embedding AS DOUBLE[]) END AS e
             |  FROM embeddings),
             |m AS (SELECT vec_id,
             |    CAST(len(e) AS BIGINT) AS n_dims,
             |    CAST(len(list_filter(e, x -> NOT isfinite(x)))
             |      AS BIGINT) AS n_bad,
             |    list_dot_product(e, e) AS nrm2 FROM d)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
             |  CAST(SUM(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_nonfinite,
             |  CAST(SUM(CASE WHEN n_bad = 0 AND nrm2 = 0 THEN 1
             |    ELSE 0 END) AS BIGINT) AS n_zero_norm,
             |  CAST(COUNT(DISTINCT n_dims) AS BIGINT)
             |    AS n_dims_distinct,
             |  MAX(CASE WHEN n_bad = 0 THEN round(sqrt(nrm2), 6) END)
             |    AS norm_max,
             |  MIN(CASE WHEN n_bad = 0 AND nrm2 > 0
             |    THEN round(sqrt(nrm2), 6) END) AS norm_min_nonzero
             |FROM m""".stripMargin)),

    // ---- dedup threshold sweep from ONE ranked-shingle artifact —
    // the build-once/consume-every-threshold contract (q244/q66)
    // demonstrated as the decision report it exists for: pairs,
    // removable docs and bytes at 0.5/0.7/0.9, all consuming the SAME
    // registered artifact — under BOTH removal policies side by side:
    // the greedy higher-id rule (cheap, but its removable SET can
    // orphan evidence on chains) and the component-exact rule
    // (union-find over the pair graph, keep the min-id doc per
    // component, removable = Σ(size−1) — always ≥ greedy: every
    // pair's higher id is a non-min member of its component, and a
    // reversed star a~c, b~c adds b that greedy never sees). The
    // curve a pipeline reads before committing a threshold AND a
    // policy — without re-paying the shingle build per candidate.
    QueryDef("q318_dedup_threshold_sweep",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val ranked = Round11.sharedRanked(s, dir)
        val lens = docs.select(col("doc_id").as("db"),
          col("n_chars").cast("long").as("n_chars"))
        // arms are independent given the shared ranked artifact; each
        // arm's EAGER work (the pairs localCheckpoint + the iterative
        // connected-components loop) overlaps from driver threads so
        // the row's wall ≈ the slowest threshold, not the sum
        // (guide §2.6; optimization round 20)
        val arms = graft.core.Par.mapInParallel(Seq(50, 70, 90)) { pct =>
          val pairs = graft.operators.Dedup.jaccardPairsPrefix(
            docs, "doc_id", "text", n = 3,
            threshold = pct / 100.0, ranked = Some(ranked))
            .localCheckpoint() // feeds greedy AND the component arm
          val dups = pairs.select(col("db")).distinct()
            .join(lens, Seq("db"))
            .agg(count(lit(1)).as("n_docs_removable"),
              coalesce(sum(col("n_chars")), lit(0L))
                .as("chars_removable"))
          val ccRem = graft.operators.Dedup.connectedComponents(
              pairs.select(col("da"), col("db")),
              docs.select(col("doc_id")), "doc_id")
            .where(col("id") =!= col("cluster"))
            .join(lens.withColumnRenamed("db", "id"), Seq("id"))
            .agg(count(lit(1)).as("n_docs_removable_cc"),
              coalesce(sum(col("n_chars")), lit(0L))
                .as("chars_removable_cc"))
          pairs.agg(count(lit(1)).as("n_pairs")).crossJoin(dups)
            .crossJoin(ccRem)
            .select(lit(pct.toLong).as("threshold_pct"),
              col("n_pairs"), col("n_docs_removable"),
              col("chars_removable"), col("n_docs_removable_cc"),
              col("chars_removable_cc"))
        }
        arms.reduce(_ unionAll _).orderBy(col("threshold_pct"))
      },
      Some {
        def ccBlock(pct: Int) =
          s"""ed$pct AS MATERIALIZED (
             |  SELECT da AS src, db AS dst FROM j WHERE jc >= $pct / 100.0
             |  UNION ALL
             |  SELECT db, da FROM j WHERE jc >= $pct / 100.0),
             |walk$pct AS (
             |  SELECT doc_id AS id, doc_id AS lbl FROM documents
             |  UNION
             |  SELECT e.dst AS id, w.lbl
             |  FROM walk$pct w JOIN ed$pct e ON w.id = e.src
             |  WHERE w.lbl < e.dst),
             |cc$pct AS MATERIALIZED (
             |  SELECT id, MIN(lbl) AS cluster FROM walk$pct GROUP BY id)"""
            .stripMargin
        def arm(pct: Int) =
          s"""SELECT CAST($pct AS BIGINT) AS threshold_pct,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM j
             |    WHERE jc >= $pct / 100.0) AS n_pairs,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
             |    SELECT DISTINCT db FROM j WHERE jc >= $pct / 100.0))
             |    AS n_docs_removable,
             |  (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) FROM (
             |    SELECT DISTINCT db FROM j WHERE jc >= $pct / 100.0) d
             |    JOIN documents ON d.db = documents.doc_id)
             |    AS chars_removable,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cc$pct
             |    WHERE id <> cluster) AS n_docs_removable_cc,
             |  (SELECT CAST(COALESCE(SUM(n_chars), 0) AS BIGINT)
             |    FROM cc$pct c JOIN documents ON c.id = documents.doc_id
             |    WHERE c.id <> c.cluster) AS chars_removable_cc"""
            .stripMargin
        s"""WITH RECURSIVE $oShinglePairs,
           |j AS MATERIALIZED (SELECT da, db,
           |    inter / (x.n + y.n - inter) AS jc FROM p
           |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id),
           |${ccBlock(50)},
           |${ccBlock(70)},
           |${ccBlock(90)}
           |${arm(50)}
           |UNION ALL
           |${arm(70)}
           |UNION ALL
           |${arm(90)}
           |ORDER BY threshold_pct""".stripMargin
      }))
}
