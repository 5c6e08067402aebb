package graft.queries

import graft.Tables
import graft.operators.{Anomaly, Cardinality, Curation, Dedup, Freq, Funnel, Graph, Quantiles, Retrieval, TextOps}
import org.apache.spark.sql.functions._

/** Round-9 late additions (q115–q124): retrieval, sketch, graph,
  * sampling and event-analytics primitives of a training-data
  * pipeline — BM25 relevance retrieval, count-min frequency
  * estimates, FastSS edit-distance fuzzy matching, A-ES weighted
  * reservoir sampling, TextRank keywords (exact-integer PageRank),
  * persistable/mergeable HyperLogLog (solo, overlap-screen and
  * per-group forms), histogram quantile bounds, and ordered funnel
  * analysis.
  */
object Round9b {
  private def t(name: String): QueryFn = (s, dir) => Tables.load(s, dir, name)

  /** The catalog's fixed BM25 query set. 'planner' appears in no
    * document (a zero-posting term must contribute nothing — the oracle
    * proves it), the others are corpus vocabulary.
    */
  private val bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "hash join planner",
    2 -> "window merge batch stream",
    3 -> "vector scan")

  private val bm25Values: String = bm25Queries
    .map { case (qid, txt) => s"($qid, '$txt')" }.mkString(", ")

  /** Shared BM25 posting frame per (session, dataset) — the q105/q129
    * artifact-registration discipline. q115 is the unconditional,
    * timed, oracle-gated BUILD row (rebuilds + registers); q144's
    * sparse arm consumes whatever artifact is registered, so the
    * tokenize→tf corpus pass is charged exactly once per bench run.
    * Values are deterministic, so consumers' oracles are unaffected by
    * who built the artifact.
    */
  // asIs persistence: termFrequencies localCheckpoints internally.
  // The artifact is NARROW (round 20): its multi-pass consumers (the
  // pruned path, index builds) scan it repeatedly, and the expanding
  // consumers (q274's scoring/truth) widen their own matched subset
  // instead — see Retrieval.termFrequencies.
  private val tfReg = new graft.core.ArtifactRegistry(
    graft.core.ArtifactRegistry.asIs)
  private def buildTf(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    tfReg.rebuild(s, dir)(Retrieval.termFrequencies(
      t("documents")(s, dir), "doc_id", "text"))
  private[queries] def sharedTf(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    tfReg.getOrBuild(s, dir)(Retrieval.termFrequencies(
      t("documents")(s, dir), "doc_id", "text"))

  /** HLL register→estimate oracle CTE chain over a source CTE
    * `src(k)`, prefixed so several sketches compose in one query
    * (q121 builds three). Ends in `<pfx>f(est)`. Mirrors
    * [[Cardinality.hllRegisters]]/[[Cardinality.hllEstimate]]
    * arithmetic exactly — BIGINT register sum, one folded double
    * constant, deterministic correction branch.
    */
  private def hllEstCtes(src: String, pfx: String, p: Int): String = {
    val m = 1L << p
    val r0 = 61 - p
    val c = Cardinality.estimateConst(p)
    val thresh = 2.5 * m
    s"""${pfx}h AS (SELECT CAST(concat('0x', substr(md5(
       |    concat('hll|', k)), 1, 15)) AS BIGINT) AS h FROM $src),
       |${pfx}b AS (SELECT h % $m AS bucket, h // $m AS q
       |  FROM ${pfx}h),
       |${pfx}r AS (SELECT bucket, MAX(CASE WHEN q = 0 THEN $r0
       |    ELSE $r0 - length(bin(q)) END) AS r
       |  FROM ${pfx}b GROUP BY 1),
       |${pfx}a AS (SELECT COALESCE(SUM(CAST(1 AS BIGINT)
       |      << ($r0 - r)), 0) AS s_filled, COUNT(*) AS n_filled
       |  FROM ${pfx}r),
       |${pfx}t AS (SELECT s_filled + ($m - n_filled) *
       |      (CAST(1 AS BIGINT) << $r0) AS s_total,
       |    $m - n_filled AS n_zero FROM ${pfx}a),
       |${pfx}e AS (SELECT round($c / CAST(s_total AS DOUBLE), 2)
       |      AS est_raw, n_zero FROM ${pfx}t),
       |${pfx}f AS (SELECT CASE WHEN est_raw <= $thresh
       |      AND n_zero > 0
       |    THEN round(${m.toDouble} * ln(${m.toDouble} / n_zero), 2)
       |    ELSE est_raw END AS est FROM ${pfx}e)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- Okapi BM25 top-k retrieval: one corpus pass builds the
    // (doc, term, tf) frame; the driver-sized query-term set broadcasts
    // and filters it to the query terms' posting lists before anything
    // shuffles (the inverted-index access pattern without an index).
    // Per-term contributions round to DECIMAL(20,6) before the
    // per-document sum, so the score is exact and order-independent.
    QueryDef("q115_bm25_topk",
      (s, dir) => Retrieval.bm25TopK(t("documents")(s, dir),
        "doc_id", "text", bm25Queries, k = 10,
        tf = Some(buildTf(s, dir))),
      Some(s"""WITH ${Retrieval.bm25OracleCtes(bm25Values, 1.2, 0.75)},
              |r AS (SELECT query_id, doc_id, score,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY score DESC, doc_id) AS rnk
              |  FROM sc)
              |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
              |  score, CAST(rnk AS BIGINT) AS rank
              |FROM r WHERE rnk <= 10
              |ORDER BY query_id, rank""".stripMargin)),

    // ---- count-min sketch frequency estimates over the corpus token
    // stream: the sketch is 4×32 counters built by one aggregation
    // whose shuffle carries ≤ depth·width cells per task (map-side
    // combine), probes are the exact heavy hitters (Misra-Gries +
    // verification — no key-universe shuffle anywhere). Width 32 is
    // deliberately small so bucket collisions actually occur and the
    // min-over-rows arithmetic is exercised, not just replayed
    // trivially; the oracle recomputes sketch AND exact counts, so
    // est_n ≥ n_rows (the CMS one-sided guarantee) is hash-gated.
    QueryDef("q116_countmin_est",
      // the token frame feeds FOUR passes (Misra-Gries, exact verify,
      // total count, sketch build) — materialize the tokenize once so
      // the corpus is scanned once, not four times (plan-audited:
      // 4 FileScans → 1 before/after; the q100 tf pattern)
      (s, dir) => Freq.countMinEstimates(
          TextOps.wordRows(t("documents")(s, dir), "text")
            .localCheckpoint(),
          "word", depth = 4, width = 32, minShare = 64)
        .orderBy(col("word")),
      Some("""WITH w AS (SELECT doc_id, list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0) AS ws FROM documents),
             |tok AS (SELECT unnest(ws) AS word FROM w),
             |tot AS (SELECT COUNT(*) AS n FROM tok),
             |sk AS (SELECT t.j,
             |    CAST(concat('0x', substr(md5(concat('cms', t.j, '|',
             |      word)), 1, 15)) AS BIGINT) % 32 AS bucket,
             |    COUNT(*) AS c
             |  FROM tok, range(0, 4) t(j) GROUP BY 1, 2),
             |hh AS (SELECT word, COUNT(*) AS n_rows FROM tok
             |  GROUP BY 1 HAVING COUNT(*) * 64 >= (SELECT n FROM tot)),
             |pb AS (SELECT hh.word, hh.n_rows, t.j,
             |    CAST(concat('0x', substr(md5(concat('cms', t.j, '|',
             |      hh.word)), 1, 15)) AS BIGINT) % 32 AS bucket
             |  FROM hh, range(0, 4) t(j))
             |SELECT pb.word, pb.n_rows, MIN(sk.c) AS est_n
             |FROM pb JOIN sk USING (j, bucket)
             |GROUP BY 1, 2 ORDER BY word""".stripMargin)),

    // ---- fuzzy entity matching at edit distance ≤ 1 (FastSS deletion
    // neighborhoods): the variant equi-join is an EXACT blocking for
    // d ≤ 1 (it admits d = 2 candidates; the levenshtein verification
    // rejects them — the oracle replays neighborhood, join, and
    // verify, so both the blocking and the distance arithmetic are
    // hash-gated). Supplier names are ID-like strings where one-digit
    // typos are the realistic duplicate class.
    QueryDef("q117_fuzzy_pairs",
      (s, dir) => Dedup.editDistancePairs(t("supplier")(s, dir),
          "s_suppkey", "s_name")
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH s AS (SELECT CAST(s_suppkey AS BIGINT) AS id,
             |    s_name AS nm FROM supplier),
             |v AS (
             |  SELECT id, nm, nm AS var FROM s
             |  UNION
             |  SELECT id, nm,
             |    substr(nm, 1, i - 1) || substr(nm, i + 1) AS var
             |  FROM s, range(1, 1025) t(i) WHERE t.i <= len(nm)),
             |c AS (SELECT DISTINCT a.id AS ida, a.nm AS nma,
             |    b.id AS idb, b.nm AS nmb
             |  FROM v a JOIN v b ON a.var = b.var AND a.id < b.id)
             |SELECT ida AS id_a, idb AS id_b,
             |  CAST(levenshtein(nma, nmb) AS BIGINT) AS dist
             |FROM c WHERE levenshtein(nma, nmb) <= 1
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- weighted sampling without replacement (A-ES), weights =
    // token counts: the whole draw — salted-md5 uniform, u^(1/w) key,
    // 6-decimal boundary rounding, doc_id tie-break, top-k — is
    // replayed by the oracle, so selection is proven reproducible
    // cross-engine (the training-data-lineage property the scaladoc
    // promises). TakeOrdered plan: per-partition heaps, no global
    // sort.
    QueryDef("q118_weighted_sample",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val weighted = docs.select(col("doc_id"),
          size(TextOps.words(col("text"))).as("n_words"))
        Curation.weightedSample(weighted, "doc_id", "n_words", k = 25)
          .orderBy(col("skey").desc, col("doc_id"))
      },
      Some("""WITH w AS (SELECT doc_id, list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0) AS ws FROM documents),
             |dw AS (SELECT doc_id, len(ws) AS wt FROM w
             |  WHERE len(ws) > 0),
             |s AS (SELECT doc_id, CAST(wt AS BIGINT) AS weight,
             |    round(pow(
             |      (CAST(concat('0x', substr(md5(concat('wrs|',
             |         doc_id)), 1, 15)) AS BIGINT) + 1)
             |        / 1152921504606846976.0,
             |      1.0 / wt), 6) AS skey
             |  FROM dw)
             |SELECT doc_id, weight, skey FROM s
             |ORDER BY skey DESC, doc_id LIMIT 25""".stripMargin)),

    // ---- TextRank keywords (weighted PageRank over the adjacent-token
    // co-occurrence graph): the corpus-keyword operator and the
    // catalog's first graph-centrality query. The graph is ONE
    // token-stream aggregation (vocabulary²-bounded); each iteration
    // is a vocabulary-sized join. The oracle replays graph build +
    // both damped iterations — per-edge contributions round to
    // DECIMAL(20,6) before node sums, so every iteration is exact.
    QueryDef("q119_textrank",
      (s, dir) => Graph.textRankKeywords(t("documents")(s, dir),
        "text", damping = 0.85, iters = 2, topK = 30),
      Some("""WITH w AS (SELECT doc_id, list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0) AS ws FROM documents),
             |bg0 AS (SELECT unnest(list_transform(
             |    generate_series(1, len(ws) - 1),
             |    i -> struct_pack(w1 := ws[i], w2 := ws[i + 1])))
             |    AS p FROM w),
             |bg AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM bg0
             |  WHERE p.w1 != p.w2),
             |und AS (SELECT least(w1, w2) AS a, greatest(w1, w2) AS b,
             |    COUNT(*) AS wt
             |  FROM bg GROUP BY 1, 2),
             |e AS (SELECT a AS src, b AS dst, wt FROM und
             |  UNION ALL SELECT b, a, wt FROM und),
             |st AS (SELECT src, SUM(wt) AS s FROM e GROUP BY 1),
             |s0 AS (SELECT src AS node,
             |    CAST(1000000 AS BIGINT) AS sm FROM st),
             |c1 AS (SELECT e.dst,
             |    SUM((e.wt * s0.sm * 2 + st.s) // (2 * st.s)) AS sc
             |  FROM e JOIN s0 ON e.src = s0.node
             |    JOIN st ON e.src = st.src GROUP BY 1),
             |s1 AS (SELECT dst AS node,
             |    150000 + (sc * 850 * 2 + 1000) // 2000 AS sm FROM c1),
             |c2 AS (SELECT e.dst,
             |    SUM((e.wt * s1.sm * 2 + st.s) // (2 * st.s)) AS sc
             |  FROM e JOIN s1 ON e.src = s1.node
             |    JOIN st ON e.src = st.src GROUP BY 1),
             |s2 AS (SELECT dst AS node,
             |    150000 + (sc * 850 * 2 + 1000) // 2000 AS sm FROM c2)
             |SELECT node AS word,
             |  CAST(sm AS DOUBLE) / 1000000.0 AS score FROM s2
             |ORDER BY score DESC, word LIMIT 30""".stripMargin)),

    // ---- persistable mergeable HyperLogLog (the Bloom/IVF-PQ
    // artifact treatment for distinct counts): the Spark path builds
    // per-half sketches, PERSISTS one (m-row parquet), reads it back
    // through the p-validation gate, MERGES with the other half, and
    // estimates; the oracle builds the straight single-pass sketch
    // over the union — hash equality therefore proves
    // merge(persist(half1), half2) ≡ build(all), the mergeability law,
    // under the hard signal. n_exact rides along so the artifact also
    // documents the estimate's error at every SF.
    QueryDef("q120_hll_persist",
      (s, dir) => {
        val li = t("lineitem")(s, dir).select(col("l_orderkey"))
        val even = li.filter(col("l_orderkey") % 2 === 0)
        val odd = li.filter(col("l_orderkey") % 2 === 1)
        val outDir = scratchDir(dir, "q120_hll")
        Cardinality.writeSketch(
          Cardinality.hllRegisters(even, "l_orderkey"),
          outDir.getAbsolutePath)
        val merged = Cardinality.hllMerge(
          Cardinality.readSketch(s, outDir.getAbsolutePath, expectP = 12),
          Cardinality.hllRegisters(odd, "l_orderkey"))
        val exact = li
          .agg(countDistinct(col("l_orderkey")).as("n_exact"))
        exact.crossJoin(Cardinality.hllEstimate(merged, p = 12))
          .select(col("n_exact"), col("est_hll"), col("n_zero"))
      },
      Some(s"""WITH h AS (SELECT CAST(concat('0x', substr(md5(
              |    concat('hll|', l_orderkey)), 1, 15)) AS BIGINT) AS h
              |  FROM lineitem WHERE l_orderkey IS NOT NULL),
              |b AS (SELECT h % 4096 AS bucket, h // 4096 AS q FROM h),
              |r AS (SELECT bucket, MAX(CASE WHEN q = 0 THEN 49
              |    ELSE 49 - length(bin(q)) END) AS r
              |  FROM b GROUP BY 1),
              |a AS (SELECT COALESCE(SUM(CAST(1 AS BIGINT) << (49 - r)),
              |      0) AS s_filled, COUNT(*) AS n_filled FROM r),
              |t AS (SELECT s_filled + (4096 - n_filled) *
              |      (CAST(1 AS BIGINT) << 49) AS s_total,
              |    4096 - n_filled AS n_zero FROM a),
              |e AS (SELECT round(${Cardinality.estimateConst(12)}
              |      / CAST(s_total AS DOUBLE), 2) AS est_raw, n_zero
              |  FROM t),
              |f AS (SELECT CASE WHEN est_raw <= 10240.0 AND n_zero > 0
              |    THEN round(4096.0 * ln(4096.0 / n_zero), 2)
              |    ELSE est_raw END AS est_hll, n_zero FROM e),
              |x AS (SELECT COUNT(DISTINCT l_orderkey) AS n_exact
              |  FROM lineitem)
              |SELECT x.n_exact, f.est_hll, f.n_zero FROM f, x""".stripMargin)),

    // ---- overlap estimation by sketch algebra: |A∩B| ≈
    // est(A)+est(B)−est(A∪B), the join-free train/eval-contamination
    // SCREEN. A = orders with a returned line, B = all orders. The
    // Spark path merges the two register frames; the oracle sketches
    // the UNION ALL of the key streams directly — equality rides on
    // the mergeability law q120 proved. n_exact_overlap (the
    // key-universe semi-join this screen avoids at scale) rides along
    // as error evidence.
    QueryDef("q121_hll_overlap",
      (s, dir) => {
        val li = t("lineitem")(s, dir)
        val returned = li.filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"))
        val ord = t("orders")(s, dir).select(col("o_orderkey"))
        val est = Cardinality.hllOverlapEstimate(
          returned, "l_orderkey", ord, "o_orderkey", p = 10)
        val exact = returned
          .join(ord, returned("l_orderkey") === ord("o_orderkey"),
            "left_semi")
          .agg(countDistinct(col("l_orderkey")).as("n_exact_overlap"))
        est.crossJoin(exact)
      },
      Some(s"""WITH qa AS (SELECT l_orderkey AS k FROM lineitem
              |  WHERE l_returnflag = 'R'),
              |qb AS (SELECT o_orderkey AS k FROM orders),
              |qu AS (SELECT k FROM qa UNION ALL SELECT k FROM qb),
              |${hllEstCtes("qa", "a_", 10)},
              |${hllEstCtes("qb", "b_", 10)},
              |${hllEstCtes("qu", "u_", 10)},
              |x AS (SELECT COUNT(DISTINCT l_orderkey)
              |      AS n_exact_overlap
              |  FROM lineitem WHERE l_returnflag = 'R'
              |    AND l_orderkey IN (SELECT o_orderkey FROM orders))
              |SELECT a_f.est AS est_a, b_f.est AS est_b,
              |  u_f.est AS est_union,
              |  GREATEST(0.0, round(a_f.est + b_f.est - u_f.est, 2))
              |    AS est_overlap,
              |  x.n_exact_overlap
              |FROM a_f, b_f, u_f, x""".stripMargin)),

    // ---- histogram quantile bounds (the scale path for percentiles:
    // one groupBy(bin) with map-side combine to ≤ bins cells/task,
    // mergeable across batches, vs q44's per-group global sort). Bin
    // assignment is pure IEEE arithmetic on identical expressions —
    // no decimal-rounding boundary anywhere — and target ranks are
    // pure-integer ceil division, so the oracle replays bit-exactly.
    // QuantilesSpec pins the containment guarantee against the exact
    // sort-based percentile.
    QueryDef("q122_histogram_quantiles",
      (s, dir) => Quantiles.histogramQuantiles(
        t("lineitem")(s, dir), "l_extendedprice",
        bins = 256, pcts = Seq(25, 50, 75, 99)),
      Some("""WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x
             |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |rg AS (SELECT MIN(x) AS lo, MAX(x) AS hi, COUNT(*) AS n
             |  FROM v),
             |hb AS (SELECT CASE WHEN hi = lo THEN 0
             |    ELSE LEAST(CAST(255 AS BIGINT), GREATEST(
             |      CAST(0 AS BIGINT),
             |      CAST(floor((x - lo) * 256 / (hi - lo)) AS BIGINT)))
             |    END AS bin
             |  FROM v, rg),
             |h AS (SELECT bin, COUNT(*) AS c FROM hb GROUP BY 1),
             |cu AS (SELECT bin, SUM(c) OVER (ORDER BY bin) AS cum
             |  FROM h),
             |pr(pct) AS (VALUES (25), (50), (75), (99)),
             |t AS (SELECT pct, (rg.n * pct + 99) // 100 AS tgt
             |  FROM pr, rg),
             |sel AS (SELECT t.pct, MIN(cu.bin) AS bin
             |  FROM t JOIN cu ON cu.cum >= t.tgt GROUP BY 1)
             |SELECT CAST(pct AS BIGINT) AS pct,
             |  lo + bin * (hi - lo) / 256 AS est_lo,
             |  lo + (bin + 1) * (hi - lo) / 256 AS est_hi
             |FROM sel, rg ORDER BY pct""".stripMargin)),

    // ---- ordered funnel (view → click → purchase): stage k counts a
    // user only when a stage-k event lands STRICTLY after the
    // greedy-earliest stage-(k−1) time. All shuffles on user_id (one
    // AQE-reusable partitioning); timestamps compared exactly, so the
    // oracle replays the chain bit-for-bit.
    QueryDef("q123_funnel",
      (s, dir) => Funnel.funnelCounts(t("events")(s, dir),
        "user_id", "event_type", "ts",
        Seq("view", "click", "purchase")),
      Some("""WITH ev AS (SELECT user_id, event_type,
             |    CAST(ts AS TIMESTAMP) AS ts FROM events),
             |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM ev
             |  WHERE event_type = 'view' GROUP BY 1),
             |s2 AS (SELECT s1.user_id, s1.t1,
             |    MIN(CASE WHEN e.ts > s1.t1 THEN e.ts END) AS t2
             |  FROM s1 LEFT JOIN ev e ON e.user_id = s1.user_id
             |    AND e.event_type = 'click'
             |  GROUP BY 1, 2),
             |s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
             |    MIN(CASE WHEN e.ts > s2.t2 THEN e.ts END) AS t3
             |  FROM s2 LEFT JOIN ev e ON e.user_id = s2.user_id
             |    AND e.event_type = 'purchase'
             |  GROUP BY 1, 2, 3)
             |SELECT stage, stage_type, n_entities FROM (
             |  SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_type,
             |    COUNT(t1) AS n_entities FROM s3
             |  UNION ALL
             |  SELECT CAST(2 AS BIGINT), 'click', COUNT(t2) FROM s3
             |  UNION ALL
             |  SELECT CAST(3 AS BIGINT), 'purchase', COUNT(t3) FROM s3)
             |ORDER BY stage""".stripMargin)),

    // ---- per-group HLL (distinct users per event type): one grouped
    // register aggregation — ≤ m cells per (task, group) shuffled,
    // vs one row per (group, user) for exact countDistinct. The
    // exact count rides along per group as error evidence; at this
    // cardinality (150/1.5k users) the estimate exercises the
    // linear-counting branch on both engines.
    QueryDef("q124_hll_by_group",
      (s, dir) => {
        val ev = t("events")(s, dir)
        val est = Cardinality.hllEstimateBy(
          Cardinality.hllRegistersBy(ev, Seq("event_type"), "user_id"),
          Seq("event_type"), p = 12)
        val exact = ev.filter(col("user_id").isNotNull)
          .groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_exact"))
        est.join(exact, "event_type")
          .select(col("event_type"), col("n_exact"), col("est_hll"),
            col("n_zero"))
          .orderBy(col("event_type"))
      },
      Some(s"""WITH h AS (SELECT event_type,
              |    CAST(concat('0x', substr(md5(concat('hll|',
              |      user_id)), 1, 15)) AS BIGINT) AS h
              |  FROM events WHERE user_id IS NOT NULL),
              |b AS (SELECT event_type, h % 4096 AS bucket,
              |    h // 4096 AS q FROM h),
              |r AS (SELECT event_type, bucket,
              |    MAX(CASE WHEN q = 0 THEN 49
              |      ELSE 49 - length(bin(q)) END) AS r
              |  FROM b GROUP BY 1, 2),
              |a AS (SELECT event_type,
              |    COALESCE(SUM(CAST(1 AS BIGINT) << (49 - r)), 0)
              |      AS s_filled,
              |    COUNT(*) AS n_filled
              |  FROM r GROUP BY 1),
              |t AS (SELECT event_type, s_filled + (4096 - n_filled) *
              |      (CAST(1 AS BIGINT) << 49) AS s_total,
              |    4096 - n_filled AS n_zero FROM a),
              |e AS (SELECT event_type,
              |    round(${Cardinality.estimateConst(12)}
              |      / CAST(s_total AS DOUBLE), 2) AS est_raw, n_zero
              |  FROM t),
              |f AS (SELECT event_type, CASE WHEN est_raw <= 10240.0
              |      AND n_zero > 0
              |    THEN round(4096.0 * ln(4096.0 / n_zero), 2)
              |    ELSE est_raw END AS est_hll, n_zero FROM e),
              |x AS (SELECT event_type,
              |    COUNT(DISTINCT user_id) AS n_exact
              |  FROM events WHERE user_id IS NOT NULL GROUP BY 1)
              |SELECT f.event_type, x.n_exact, f.est_hll, f.n_zero
              |FROM f JOIN x USING (event_type)
              |ORDER BY event_type""".stripMargin)),

    // ---- Z-order layout under the oracle (upgrades Layout's
    // spec-only coverage to hash-gated): bucketize two dims, Morton-
    // interleave, assign each row its z-RANGE bucket (top 4 z bits —
    // pure map-side, the declarative stand-in for
    // writeZOrdered's repartitionByRange), and report each bucket's
    // bounding rectangle. The tight per-bucket min/max on BOTH dims
    // is the file-skipping property that makes Z-ordering worth it at
    // 100 TB; the oracle replays bucketize + interleave + rectangles
    // bit-exactly (pure integer/IEEE ops).
    QueryDef("q125_zorder_layout",
      (s, dir) => {
        val li = t("lineitem")(s, dir)
          .select(col("l_partkey").cast("long").as("x"),
            col("l_suppkey").cast("long").as("y"))
        val rg = li.agg(min(col("x")).cast("double").as("lo_x"),
          max(col("x")).cast("double").as("hi_x"),
          min(col("y")).cast("double").as("lo_y"),
          max(col("y")).cast("double").as("hi_y"))
        def bucketize(c: org.apache.spark.sql.Column,
            lo: org.apache.spark.sql.Column,
            hi: org.apache.spark.sql.Column) =
          least(lit(255L), greatest(lit(0L),
            floor((c.cast("double") - lo) / (hi - lo) * 256)
              .cast("long")))
        val zb = li.crossJoin(broadcast(rg))
          .select(col("x"), col("y"),
            graft.sink.Layout.zValue(
              bucketize(col("x"), col("lo_x"), col("hi_x")),
              bucketize(col("y"), col("lo_y"), col("hi_y")),
              bits = 8).as("zv"))
        zb.select(col("x"), col("y"),
            expr("zv div 4096").as("bucket")) // top 4 of 16 z bits
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("x")).as("min_x"), max(col("x")).as("max_x"),
            min(col("y")).as("min_y"), max(col("y")).as("max_y"))
          .orderBy(col("bucket"))
      },
      Some {
        val z = (0 until 8).map(i =>
          s"((((xb >> $i) & 1) << ${2 * i + 1}) | " +
            s"(((yb >> $i) & 1) << ${2 * i}))").mkString(" | ")
        s"""WITH li AS (SELECT CAST(l_partkey AS BIGINT) AS x,
           |    CAST(l_suppkey AS BIGINT) AS y FROM lineitem),
           |rg AS (SELECT CAST(MIN(x) AS DOUBLE) AS lo_x,
           |    CAST(MAX(x) AS DOUBLE) AS hi_x,
           |    CAST(MIN(y) AS DOUBLE) AS lo_y,
           |    CAST(MAX(y) AS DOUBLE) AS hi_y FROM li),
           |zb AS (SELECT x, y,
           |    LEAST(255, GREATEST(0, CAST(floor(
           |      (CAST(x AS DOUBLE) - lo_x) / (hi_x - lo_x) * 256)
           |      AS BIGINT))) AS xb,
           |    LEAST(255, GREATEST(0, CAST(floor(
           |      (CAST(y AS DOUBLE) - lo_y) / (hi_y - lo_y) * 256)
           |      AS BIGINT))) AS yb
           |  FROM li, rg),
           |zz AS (SELECT x, y, ($z) AS zv FROM zb)
           |SELECT zv // 4096 AS bucket, COUNT(*) AS n_rows,
           |  MIN(x) AS min_x, MAX(x) AS max_x,
           |  MIN(y) AS min_y, MAX(y) AS max_y
           |FROM zz GROUP BY 1 ORDER BY bucket""".stripMargin
      }),

    // ---- hourly volume anomalies, exact integer z-test: (n·c − S)² >
    // k²(n·Q − S²) — no mean/variance/sqrt/float anywhere, so the
    // oracle replays the whole test in BIGINT. The partial boundary
    // hours of the synthetic stream flag deterministically.
    QueryDef("q126_anomaly_windows",
      (s, dir) => Anomaly.countAnomalies(t("events")(s, dir), "ts",
        every = "hour", k = 2),
      Some("""WITH w AS (SELECT date_trunc('hour',
             |      CAST(ts AS TIMESTAMP)) AS w0, COUNT(*) AS c
             |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
             |st AS (SELECT COUNT(*) AS n, SUM(c) AS s,
             |    SUM(c * c) AS q FROM w)
             |SELECT w.w0 AS window_start, w.c AS n_events,
             |  ((st.n * w.c - st.s) * (st.n * w.c - st.s)) >
             |    4 * (st.n * st.q - st.s * st.s) AS is_anomaly
             |FROM w, st ORDER BY window_start""".stripMargin)),

    // ---- robust (median/MAD, Hampel k=3) anomaly windows — the
    // masking-proof twin of q126: medians of integer counts are whole
    // or exact halves (binary-exact doubles), so dev/MAD/k·MAD and
    // the strict > all replay engine-stably without any rounding.
    QueryDef("q127_robust_anomaly",
      (s, dir) => Anomaly.robustCountAnomalies(t("events")(s, dir),
        "ts", every = "hour", k = 3),
      Some("""WITH w AS (SELECT date_trunc('hour',
             |      CAST(ts AS TIMESTAMP)) AS w0, COUNT(*) AS c
             |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
             |m AS (SELECT quantile_cont(c, 0.5) AS med FROM w),
             |d AS (SELECT w0, c, abs(c - med) AS dev FROM w, m),
             |md AS (SELECT quantile_cont(dev, 0.5) AS mad FROM d)
             |SELECT d.w0 AS window_start, d.c AS n_events,
             |  d.dev > 3.0 * md.mad AS is_anomaly
             |FROM d, md ORDER BY window_start""".stripMargin)),

    // ---- balanced weighted subsets: k A-ES draws PER STRATUM
    // (language), one row_number window per stratum instead of a
    // global top-k — q118's key arithmetic, q69's balance contract,
    // in one operator. Oracle replays draw + per-stratum ranking.
    QueryDef("q128_stratified_weighted",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val weighted = docs.select(col("lang"), col("doc_id"),
          size(TextOps.words(col("text"))).as("n_words"))
        Curation.weightedSamplePerStratum(weighted, "lang", "doc_id",
            "n_words", k = 5)
          .orderBy(col("lang"), col("rank"))
      },
      Some("""WITH w AS (SELECT lang, doc_id, list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0) AS ws FROM documents),
             |dw AS (SELECT lang, doc_id, len(ws) AS wt FROM w
             |  WHERE len(ws) > 0),
             |s AS (SELECT lang, doc_id, CAST(wt AS BIGINT) AS weight,
             |    round(pow(
             |      (CAST(concat('0x', substr(md5(concat('wrs|',
             |         doc_id)), 1, 15)) AS BIGINT) + 1)
             |        / 1152921504606846976.0,
             |      1.0 / wt), 6) AS skey
             |  FROM dw),
             |r AS (SELECT lang, doc_id, weight, skey,
             |    ROW_NUMBER() OVER (PARTITION BY lang
             |      ORDER BY skey DESC, doc_id) AS rnk
             |  FROM s)
             |SELECT lang, doc_id, weight, skey,
             |  CAST(rnk AS BIGINT) AS rank
             |FROM r WHERE rnk <= 5
             |ORDER BY lang, rank""".stripMargin)))
}
