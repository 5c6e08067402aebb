package graft.queries

import graft.operators.{Bpe, Funnel, Quantiles, Series, Skyline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 continuation (q129+): BPE tokenizer training under the
  * oracle — the catalog's first tokenizer-learning operator (q33
  * counts tokens; this LEARNS the subword vocabulary that defines
  * them), plus its vocabulary and serving paths.
  *
  * Oracle strategy: the q91/q101 iteration-replay pattern — the DuckDB
  * SQL replays every learning iteration as a CTE chain (pair counts →
  * argmax with pinned tie-break → gaps-and-islands leftmost merge), so
  * the Spark driver loop and the oracle cannot drift apart on ANY
  * iteration's choice.
  */
object Round9c {
  /** Oracle CTE of the exact-moment rows: the decimal moments
    * `m(n, sx, sy, sxy, sxx, syy)` of (l_quantity, l_extendedprice). */
  private val oQtyPriceMoments: String =
    """m AS (SELECT COUNT(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
      |      AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
      |      AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
      |      CAST(l_extendedprice AS DECIMAL(18,2)))
      |      AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
      |      CAST(l_quantity AS DECIMAL(18,2)))
      |      AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      CAST(l_extendedprice AS DECIMAL(18,2)))
      |      AS DOUBLE) AS syy
      |  FROM lineitem
      |  WHERE l_quantity IS NOT NULL
      |    AND l_extendedprice IS NOT NULL)""".stripMargin

  /** Learned merges per catalog config (k=3 over documents.text). Like
    * the q105 pair-set artifact: q129 is the unconditional, timed,
    * oracle-gated BUILD row; q130/q131 consume whatever artifact is
    * registered for this (session, dataset). `localCheckpoint`'d
    * symbol tables survive Bench's per-query clearCache by design;
    * values are deterministic so consumers' oracles are unaffected by
    * who built the artifact.
    */
  private[queries] val K = 3
  private val bpeReg =
    new java.util.concurrent.ConcurrentHashMap[String, Bpe.Learned]()
  private def bpeKey(s: SparkSession, dir: String): String = {
    val dirKey = try new java.io.File(dir).getCanonicalPath
      catch { case _: Throwable => dir }
    System.identityHashCode(s) + "|" + dirKey
  }
  private def buildBpe(s: SparkSession, dir: String): Bpe.Learned = {
    val learned = Bpe.learnMerges(s, t("documents")(s, dir), "text", K)
    bpeReg.put(bpeKey(s, dir), learned)
    learned
  }
  private[queries] def sharedBpe(s: SparkSession, dir: String): Bpe.Learned =
    bpeReg.computeIfAbsent(bpeKey(s, dir),
      _ => Bpe.learnMerges(s, t("documents")(s, dir), "text", K))

  /** Base CTEs: tokenize → word-frequency table → initial char-level
    * symbol table s0. Tokenization twin of [[graft.operators.TextOps.words]].
    */
  private val bpeBaseCtes: String =
    """w AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> len(x) > 0) AS ws FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS word FROM w),
      |wf AS (SELECT word, COUNT(*) AS freq FROM tok GROUP BY word),
      |s0 AS (SELECT word, freq, i AS pos,
      |    substr(word, CAST(i AS INT), 1) AS sym
      |  FROM (SELECT word, freq,
      |      unnest(generate_series(1, len(word))) AS i FROM wf))""".stripMargin

  /** One BPE learning iteration as CTEs: s{i-1} → b{i} (the chosen
    * merge, 1 row) and s{i} (the merged symbol table). Mirrors
    * [[Bpe.pairCounts]] (overlapping positions count) +
    * [[Bpe.mergeStep]] (leftmost-first non-overlapping via
    * gaps-and-islands: odd matches within each island merge, the
    * following row is consumed).
    */
  private def bpeIterCtes(i: Int): String = {
    val p = i - 1
    s"""a$i AS (SELECT word, freq, sym,
       |    ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS idx,
       |    LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
       |  FROM s$p),
       |p$i AS (SELECT sym AS lhs, nxt AS rhs,
       |    CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM a$i WHERE nxt IS NOT NULL GROUP BY 1, 2),
       |b$i AS (SELECT lhs, rhs, cnt FROM p$i
       |  ORDER BY cnt DESC, lhs, rhs LIMIT 1),
       |m$i AS (SELECT a.word, a.freq, a.sym, a.idx, a.nxt,
       |    COALESCE(a.sym = b.lhs AND a.nxt = b.rhs, FALSE) AS m,
       |    b.lhs AS bl, b.rhs AS br
       |  FROM a$i a LEFT JOIN b$i b ON TRUE),
       |n$i AS (SELECT *, CASE WHEN m THEN idx - ROW_NUMBER()
       |    OVER (PARTITION BY word, m ORDER BY idx) END AS isl
       |  FROM m$i),
       |o$i AS (SELECT *, (m AND ROW_NUMBER()
       |    OVER (PARTITION BY word, isl ORDER BY idx) % 2 = 1) AS keep
       |  FROM n$i),
       |s$i AS (SELECT word, freq, idx AS pos,
       |    CASE WHEN keep THEN bl || br ELSE sym END AS sym
       |  FROM (SELECT *, COALESCE(LAG(keep)
       |      OVER (PARTITION BY word ORDER BY idx), FALSE) AS consumed
       |    FROM o$i)
       |  WHERE NOT consumed)""".stripMargin
  }

  private[queries] val bpeAllCtes: String =
    (bpeBaseCtes +: (1 to K).map(bpeIterCtes)).mkString(",\n")

  val defs: Seq[QueryDef] = Seq(

    // ---- BPE tokenizer training: the learned merge list. Build row
    // for the shared artifact (rebuilds unconditionally — the bench
    // headline charges learning here, exactly once).
    QueryDef("q129_bpe_learn",
      (s, dir) => buildBpe(s, dir).merges.orderBy(col("merge_rank")),
      Some(s"""WITH $bpeAllCtes
              |${(1 to K).map(i =>
                 s"SELECT CAST($i AS BIGINT) AS merge_rank, lhs, rhs, " +
                 s"cnt AS pair_cnt FROM b$i").mkString("\nUNION ALL\n")}
              |ORDER BY merge_rank""".stripMargin)),

    // ---- post-merge vocabulary: subword symbol frequencies
    QueryDef("q130_bpe_vocab",
      (s, dir) => sharedBpe(s, dir).finalSyms
        .groupBy("sym").agg(sum("freq").as("freq"))
        .orderBy(col("freq").desc, col("sym")),
      Some(s"""WITH $bpeAllCtes
              |SELECT sym, CAST(SUM(freq) AS BIGINT) AS freq
              |FROM s$K GROUP BY sym ORDER BY freq DESC, sym""".stripMargin)),

    // ---- BPE serving: per-doc token counts via the vocab-encode
    // broadcast join (no per-doc merge replay)
    QueryDef("q131_bpe_tokens",
      (s, dir) => Bpe.docTokenCounts(t("documents")(s, dir), "text",
          "doc_id", sharedBpe(s, dir))
        .orderBy(col("doc_id")),
      Some(s"""WITH $bpeAllCtes,
              |v AS (SELECT word, COUNT(*) AS n_tokens
              |  FROM s$K GROUP BY word)
              |SELECT t.doc_id,
              |  CAST(SUM(v.n_tokens) AS BIGINT) AS bpe_tokens
              |FROM tok t JOIN v USING (word)
              |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)),

    // ---- per-group winsorization at exact order statistics
    QueryDef("q132_winsorize",
      (s, dir) => Quantiles.winsorizeStats(t("part")(s, dir),
          Seq("p_brand"), "p_retailprice", loPct = 5, hiPct = 95)
        .orderBy(col("p_brand")),
      Some("""WITH b AS (SELECT p_brand, p_retailprice AS v,
             |    ROW_NUMBER() OVER (PARTITION BY p_brand
             |      ORDER BY p_retailprice) AS rn,
             |    COUNT(*) OVER (PARTITION BY p_brand) AS n
             |  FROM part),
             |k AS (SELECT *, (n * 5 + 99) // 100 AS k_lo,
             |    (n * 95 + 99) // 100 AS k_hi FROM b),
             |l AS (SELECT *,
             |    MAX(CASE WHEN rn = k_lo THEN v END)
             |      OVER (PARTITION BY p_brand) AS lo,
             |    MAX(CASE WHEN rn = k_hi THEN v END)
             |      OVER (PARTITION BY p_brand) AS hi FROM k)
             |SELECT p_brand, COUNT(*) AS n_rows,
             |  MIN(lo) AS lo, MIN(hi) AS hi,
             |  CAST(SUM(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_clip_lo,
             |  CAST(SUM(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_clip_hi,
             |  CAST(SUM(CAST(LEAST(GREATEST(v, lo), hi)
             |    AS DECIMAL(12,2))) AS DOUBLE) AS sum_clip
             |FROM l GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // ---- 2-D Pareto skyline (min price, max size), no self-join
    QueryDef("q133_skyline",
      (s, dir) => Skyline.pareto2d(t("part")(s, dir),
          "p_retailprice", "p_size")
        .select(col("p_partkey"), col("p_retailprice"),
          col("p_size").cast("bigint").as("p_size"))
        .orderBy(col("p_retailprice"), col("p_partkey")),
      Some("""WITH g AS (SELECT p_retailprice AS price,
             |    MAX(p_size) AS gmax FROM part GROUP BY 1),
             |r AS (SELECT price, gmax, MAX(gmax) OVER (ORDER BY price
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |    AS prev FROM g)
             |SELECT p.p_partkey, p.p_retailprice,
             |  CAST(p.p_size AS BIGINT) AS p_size
             |FROM part p JOIN r ON p.p_retailprice = r.price
             |WHERE (r.prev IS NULL OR r.prev < p.p_size)
             |  AND p.p_size = r.gmax
             |ORDER BY p.p_retailprice, p.p_partkey""".stripMargin)),

    // ---- sparse→dense gap-filled daily series with running totals
    QueryDef("q134_gapfill",
      (s, dir) => Series.gapFillDaily(t("events")(s, dir),
          "event_type", "ts")
        .withColumnRenamed("k", "event_type")
        .orderBy(col("event_type"), col("day")),
      Some(s"""WITH $oDailyCalendar,
             |f AS (SELECT cal.event_type, cal.day,
             |    COALESCE(c.n, 0) AS n_events
             |  FROM cal LEFT JOIN c ON cal.event_type = c.event_type
             |    AND cal.day = c.day)
             |SELECT event_type, day, CAST(n_events AS BIGINT) AS n_events,
             |  CAST(SUM(n_events) OVER (PARTITION BY event_type
             |    ORDER BY day) AS BIGINT) AS cum_events
             |FROM f ORDER BY event_type, day""".stripMargin)),

    // ---- MATCH_RECOGNIZE-lite: regex over per-user event-type
    // sequences (v=view, c=click, p=purchase)
    QueryDef("q135_seqmatch",
      (s, dir) => Funnel.typeSequenceMatch(t("events")(s, dir),
          "user_id", "event_type", "ts", "event_id",
          contigPattern = "vcp", somewherePattern = "v.*c.*p")
        .orderBy(col("user_id")),
      Some("""WITH s AS (SELECT user_id, COUNT(*) AS n_events,
             |    string_agg(substr(event_type, 1, 1), ''
             |      ORDER BY ts, event_id) AS seq
             |  FROM events GROUP BY user_id)
             |SELECT user_id, n_events,
             |  CAST(len(regexp_extract_all(seq, 'vcp')) AS BIGINT)
             |    AS n_matches,
             |  regexp_matches(seq, 'v.*c.*p') AS has_path
             |FROM s ORDER BY user_id""".stripMargin)),

    // ---- per-node triangle counts over the near-dup pair graph
    // (clique-likeness of duplicate neighborhoods). Consumes the q105
    // shared pair artifact; oracle re-derives the pairs and enumerates
    // each triangle once via a<b<c ordering (orientation-invariant,
    // so the operator's degree-oriented generation replays exactly).
    QueryDef("q136_triangles",
      (s, dir) => graft.operators.Graph.triangleCounts(
          CorpusOps.sharedJaccardPairs(s, dir), "da", "db")
        .withColumnRenamed("node", "doc_id")
        .orderBy(col("doc_id")),
      Some(s"""WITH $oShinglePairs,
              |pairs AS (SELECT da, db FROM p
              |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
              |  WHERE inter / (x.n + y.n - inter) >= 0.6),
              |tri AS (SELECT e1.da AS a, e1.db AS b, e2.db AS c
              |  FROM pairs e1 JOIN pairs e2 ON e1.db = e2.da
              |  JOIN pairs e3 ON e3.da = e1.da AND e3.db = e2.db)
              |SELECT v AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri
              |FROM (SELECT a AS v FROM tri UNION ALL
              |      SELECT b FROM tri UNION ALL SELECT c FROM tri)
              |GROUP BY v ORDER BY doc_id""".stripMargin)),

    // ---- 7-day trailing moving average over the DENSE daily series
    // (composes q134's gap-fill: silent days pull the average DOWN,
    // which the sparse frame cannot express)
    QueryDef("q137_moving_avg",
      (s, dir) => graft.operators.Series.movingAvgDaily(
          t("events")(s, dir), "event_type", "ts", windowDays = 7)
        .withColumnRenamed("k", "event_type")
        .orderBy(col("event_type"), col("day")),
      Some(s"""WITH $oDailyFilled,
             |m AS (SELECT event_type, day, n_events,
             |    CAST(SUM(n_events) OVER w AS BIGINT) AS w_sum,
             |    CAST(COUNT(*) OVER w AS BIGINT) AS w_n
             |  FROM f WINDOW w AS (PARTITION BY event_type ORDER BY day
             |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
             |SELECT event_type, day, n_events, w_sum, w_n,
             |  CAST(w_sum AS DOUBLE) / CAST(w_n AS DOUBLE) AS ma
             |FROM m ORDER BY event_type, day""".stripMargin)),

    // ---- PMI collocations: top adjacent word pairs by exact-integer
    // PMI-monotone score (no log anywhere)
    QueryDef("q138_pmi",
      (s, dir) => graft.operators.Freq.pmiCollocations(
          t("documents")(s, dir), "text", minCount = 5L, topK = 20),
      Some("""WITH w AS (SELECT
             |    list_filter(string_split_regex(lower(text), '\s+'),
             |      x -> len(x) > 0) AS ws FROM documents),
             |i AS (SELECT ws, unnest(generate_series(1, len(ws) - 1))
             |    AS i FROM w WHERE len(ws) >= 2),
             |bg AS (SELECT ws[i] AS w1, ws[i+1] AS w2 FROM i),
             |tf AS (SELECT w1, w2, COUNT(*) AS cab FROM bg GROUP BY 1, 2),
             |ca AS (SELECT w1, CAST(SUM(cab) AS BIGINT) AS ca FROM tf
             |  GROUP BY 1),
             |cb AS (SELECT w2, CAST(SUM(cab) AS BIGINT) AS cb FROM tf
             |  GROUP BY 1),
             |nn AS (SELECT CAST(SUM(cab) AS BIGINT) AS n FROM tf)
             |SELECT w1, w2, cab,
             |  (cab * n * 1000000) // (ca * cb) AS score_ppm
             |FROM tf JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN nn
             |WHERE cab >= 5
             |ORDER BY score_ppm DESC, w1, w2 LIMIT 20""".stripMargin)),

    // ---- grid-density clustering (CLIQUE/GriDBSCAN) over the
    // embedding space: eps-grid on dims 1-2, core cells ≥ 5 points,
    // clusters = CC of 8-adjacent core cells
    QueryDef("q139_density_clusters",
      (s, dir) => graft.operators.Density.clusterStats(
          t("embeddings")(s, dir), "embedding", eps = 0.05,
          minPts = 5L)
        .orderBy(col("cluster")),
      Some("""WITH RECURSIVE e AS (SELECT vec_id,
             |    CAST(floor(CAST(embedding[1] AS DOUBLE) / 0.05)
             |      AS BIGINT) AS cx,
             |    CAST(floor(CAST(embedding[2] AS DOUBLE) / 0.05)
             |      AS BIGINT) AS cy
             |  FROM embeddings),
             |cc AS (SELECT cx, cy, COUNT(*) AS n FROM e GROUP BY 1, 2),
             |core AS (SELECT cx, cy, n,
             |    cx * 4294967296 + cy AS cid
             |  FROM cc WHERE n >= 5),
             |adj AS (SELECT a.cid AS src, b.cid AS dst
             |  FROM core a JOIN core b ON abs(a.cx - b.cx) <= 1
             |    AND abs(a.cy - b.cy) <= 1 AND a.cid <> b.cid),
             |walk AS (
             |  SELECT cid AS id, cid AS lbl FROM core
             |  UNION
             |  SELECT e2.dst AS id, w.lbl FROM walk w
             |  JOIN adj e2 ON w.id = e2.src WHERE w.lbl < e2.dst),
             |lab AS (SELECT id AS cid, MIN(lbl) AS cluster FROM walk
             |  GROUP BY id)
             |SELECT l.cluster, CAST(COUNT(*) AS BIGINT) AS n_cells,
             |  CAST(SUM(c.n) AS BIGINT) AS n_points
             |FROM core c JOIN lab l ON c.cid = l.cid
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- first-order Markov transition matrix of user behavior
    QueryDef("q140_markov",
      (s, dir) => Funnel.transitionMatrix(t("events")(s, dir),
          "user_id", "event_type", "ts", "event_id")
        .orderBy(col("from_type"), col("to_type")),
      Some("""WITH x AS (SELECT user_id, event_type,
             |    LEAD(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS to_type
             |  FROM events),
             |tm AS (SELECT event_type AS from_type, to_type,
             |    COUNT(*) AS n
             |  FROM x WHERE to_type IS NOT NULL GROUP BY 1, 2)
             |SELECT from_type, to_type, n,
             |  (n * 1000000) // CAST(SUM(n)
             |    OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
             |FROM tm ORDER BY from_type, to_type""".stripMargin)),

    // ---- funnel conversion-latency order statistics per leg
    QueryDef("q141_funnel_latency",
      (s, dir) => Funnel.stageLatencyQuantiles(t("events")(s, dir),
          "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"))
        .orderBy(col("leg")),
      Some(s"""WITH $oFunnelTimes,
             |legs AS (
             |  SELECT 'view->click' AS leg,
             |    epoch_us(t2) - epoch_us(t1) AS lat_us FROM s3
             |  WHERE t2 IS NOT NULL
             |  UNION ALL
             |  SELECT 'click->purchase', epoch_us(t3) - epoch_us(t2)
             |  FROM s3 WHERE t3 IS NOT NULL
             |  UNION ALL
             |  SELECT 'view->purchase', epoch_us(t3) - epoch_us(t1)
             |  FROM s3 WHERE t3 IS NOT NULL),
             |r AS (SELECT leg, lat_us,
             |    ROW_NUMBER() OVER (PARTITION BY leg ORDER BY lat_us)
             |      AS rn,
             |    COUNT(*) OVER (PARTITION BY leg) AS n FROM legs),
             |kk AS (SELECT *, (n * 50 + 99) // 100 AS k50,
             |    (n * 90 + 99) // 100 AS k90 FROM r)
             |SELECT leg, COUNT(*) AS n_conv,
             |  MAX(CASE WHEN rn = k50 THEN lat_us END) AS p50_us,
             |  MAX(CASE WHEN rn = k90 THEN lat_us END) AS p90_us
             |FROM kk GROUP BY leg ORDER BY leg""".stripMargin)),

    // ---- packing budgeted by TRAINED-BPE token counts (q79's bins,
    // q131's serving counts): the context-window packer measured in
    // the tokens a model would actually consume
    QueryDef("q142_bpe_packing",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        // localCheckpoint: packSequences deliberately scans its input
        // twice (block subtotals + output — its own scaladoc), so
        // without pinning, the EXPENSIVE docTokenCounts subtree
        // (corpus tokenize-explode × broadcast-vocab join × per-doc
        // aggregation) evaluated twice — StageProfile measured the
        // two evaluations at 5.5 s + 3.8 s CPU, the whole cost of
        // this row (guide §5 "cache when recomputing is more
        // expensive"; round 20). The pinned frame is one row per doc
        // — tiny; released when unreferenced.
        val counts = Bpe.docTokenCounts(docs, "text", "doc_id",
          sharedBpe(s, dir)).localCheckpoint()
        graft.operators.Curation.packSequences(
            docs.join(counts, Seq("doc_id")),
            "text", "doc_id", "lang", window = 1024L, blocks = 8,
            tokenCountCol = Some("bpe_tokens"))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("bin"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $bpeAllCtes,
              |v AS (SELECT word, COUNT(*) AS n_tokens
              |  FROM s$K GROUP BY word),
              |dt AS (SELECT t.doc_id,
              |    CAST(SUM(v.n_tokens) AS BIGINT) AS n_tokens
              |  FROM tok t JOIN v USING (word) GROUP BY t.doc_id),
              |dd AS (SELECT d.doc_id, d.lang, dt.n_tokens
              |  FROM documents d JOIN dt ON d.doc_id = dt.doc_id),
              |c AS (SELECT doc_id, lang, n_tokens,
              |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
              |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
              |      AND 1 PRECEDING), 0) AS cum FROM dd)
              |SELECT doc_id, lang, n_tokens,
              |  CAST(floor(cum / 1024) AS BIGINT) AS bin
              |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- TPC-H Q10 shape (returned-item reporting): the classic
    // fact⨝fact shuffle (lineitem⨝quarter-filtered orders) with the
    // customer⨝nation dimension chain broadcast; top-20 debtors by
    // returned revenue via TakeOrderedAndProject
    QueryDef("q143_tpch10",
      (s, dir) => {
        val lo = lit("1996-01-01").cast("timestamp")
        val hi = lit("1996-04-01").cast("timestamp")
        val nat = t("nation")(s, dir)
          .select(col("n_nationkey"), col("n_name"))
        val cust = t("customer")(s, dir)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("c_nationkey"))
          .join(broadcast(nat),
            col("c_nationkey") === col("n_nationkey"))
        val ord = t("orders")(s, dir)
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
          .select(col("o_orderkey"), col("o_custkey"))
        t("lineitem")(s, dir)
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"), col("l_extendedprice"),
            col("l_discount"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("n_name"))
          .agg(dsum2(col("l_extendedprice"),
            lit(1.0) - col("l_discount")).as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, c_acctbal, n_name,
              |  ${oSum2("l_extendedprice", "1.0 - l_discount")}
              |    AS revenue
              |FROM customer, orders, lineitem, nation
              |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              |  AND c_nationkey = n_nationkey AND l_returnflag = 'R'
              |  AND o_orderdate >= TIMESTAMP '1996-01-01'
              |  AND o_orderdate < TIMESTAMP '1996-04-01'
              |GROUP BY c_custkey, c_name, c_acctbal, n_name
              |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // ---- hybrid retrieval via reciprocal-rank fusion: BM25 sparse
    // arm (query = the doc's own text) ⊕ cosine dense arm (query =
    // the doc's embedding), fused rank-only — the RAG-stack combiner
    QueryDef("q144_rrf_hybrid",
      (s, dir) => graft.operators.Retrieval.rrfHybrid(
          t("documents")(s, dir), "doc_id", "text",
          t("embeddings")(s, dir), queryIds = Seq(0L, 1L, 2L),
          armK = 10, k = 10, tf = Some(Round9b.sharedTf(s, dir)))
        .orderBy(col("query_id"), col("rank")),
      Some(s"""WITH ${graft.operators.Retrieval.bm25OracleCtesQr(
                 "qr AS (SELECT doc_id AS query_id, text AS qtext " +
                 "FROM documents WHERE doc_id < 3)", 1.2, 0.75)},
              |spr AS (SELECT query_id, doc_id, ROW_NUMBER() OVER (
              |    PARTITION BY query_id ORDER BY score DESC, doc_id)
              |    AS r
              |  FROM sc WHERE doc_id <> query_id),
              |sp AS (SELECT query_id, doc_id, r AS r_sparse FROM spr
              |  WHERE r <= 10),
              |dq AS (SELECT vec_id AS qid,
              |    CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
              |  WHERE vec_id < 3),
              |dc AS (SELECT vec_id AS nid,
              |    CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
              |dsc AS (SELECT qid AS query_id, nid AS doc_id,
              |    round(list_dot_product(qe, ce) /
              |      (sqrt(list_dot_product(qe, qe)) *
              |       sqrt(list_dot_product(ce, ce))), 6) AS sim
              |  FROM dq, dc WHERE qid != nid),
              |dr AS (SELECT query_id, doc_id, ROW_NUMBER() OVER (
              |    PARTITION BY query_id ORDER BY sim DESC, doc_id)
              |    AS r FROM dsc),
              |de AS (SELECT query_id, doc_id, r AS r_dense FROM dr
              |  WHERE r <= 10),
              |f AS (SELECT COALESCE(sp.query_id, de.query_id)
              |    AS query_id,
              |    COALESCE(sp.doc_id, de.doc_id) AS doc_id,
              |    round(COALESCE(1.0 / (60 + r_sparse), 0.0) +
              |          COALESCE(1.0 / (60 + r_dense), 0.0), 6) AS rrf
              |  FROM sp FULL OUTER JOIN de
              |    ON sp.query_id = de.query_id
              |    AND sp.doc_id = de.doc_id),
              |r2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY
              |    query_id ORDER BY rrf DESC, doc_id) AS rank FROM f)
              |SELECT query_id, doc_id, rrf, CAST(rank AS BIGINT)
              |  AS rank
              |FROM r2 WHERE rank <= 10
              |ORDER BY query_id, rank""".stripMargin)),

    // ---- self-join-size (F₂) estimation WITHOUT running the join:
    // count-min inner product (AGMS carried to CM) on events.user_id
    // — the skew/blow-up diagnostic ("how big would a user_id
    // self-join get?"), with the exact Σf² as error evidence. Width
    // sized per the operator's accuracy contract (32768 ⇒ sub-5%
    // here); a near-unique PK-FK join is deliberately NOT the demo
    // (CM's documented anti-case — see Freq.joinSizeEstimate).
    QueryDef("q145_selfjoin_size_est",
      (s, dir) => {
        val e = t("events")(s, dir)
        val est = graft.operators.Freq.joinSizeEstimate(
          e, "user_id", e, "user_id", depth = 4, width = 32768)
        val exact = e.filter(col("user_id").isNotNull)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("f"))
          .agg(sum(col("f") * col("f")).as("exact_rows"))
        est.crossJoin(exact)
      },
      Some("""WITH ka AS (SELECT CAST(user_id AS VARCHAR) AS k
             |  FROM events WHERE user_id IS NOT NULL),
             |sa AS (SELECT t.j,
             |    CAST(concat('0x', substr(md5(concat('cms', t.j, '|',
             |      k)), 1, 15)) AS BIGINT) % 32768 AS bucket,
             |    COUNT(*) AS ca
             |  FROM ka, range(0, 4) t(j) GROUP BY 1, 2),
             |ip AS (SELECT j, CAST(SUM(ca * ca) AS BIGINT) AS ip
             |  FROM sa GROUP BY 1),
             |est AS (SELECT MIN(ip) AS est_rows FROM ip),
             |ex AS (SELECT CAST(SUM(f * f) AS BIGINT) AS exact_rows
             |  FROM (SELECT COUNT(*) AS f FROM events
             |    WHERE user_id IS NOT NULL GROUP BY user_id))
             |SELECT est_rows, exact_rows FROM est CROSS JOIN ex"""
        .stripMargin)),

    // ---- local clustering coefficients over the near-dup graph:
    // 10⁶ ppm = the neighborhood is a clique (true duplicate
    // cluster); near 0 = a hub of pairwise-unrelated matches
    QueryDef("q146_clustering_coeff",
      (s, dir) => graft.operators.Graph.clusteringCoefficients(
          CorpusOps.sharedJaccardPairs(s, dir), "da", "db")
        .withColumnRenamed("node", "doc_id")
        .orderBy(col("doc_id")),
      Some(s"""WITH $oShinglePairs,
              |pairs AS (SELECT da, db FROM p
              |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
              |  WHERE inter / (x.n + y.n - inter) >= 0.6),
              |dg AS (SELECT v AS node, COUNT(*) AS deg FROM (
              |    SELECT da AS v FROM pairs
              |    UNION ALL SELECT db FROM pairs)
              |  GROUP BY v HAVING COUNT(*) >= 2),
              |tri AS (SELECT e1.da AS a, e1.db AS b, e2.db AS c
              |  FROM pairs e1 JOIN pairs e2 ON e1.db = e2.da
              |  JOIN pairs e3 ON e3.da = e1.da AND e3.db = e2.db),
              |tc AS (SELECT v AS node, CAST(COUNT(*) AS BIGINT) AS t
              |  FROM (SELECT a AS v FROM tri UNION ALL
              |        SELECT b FROM tri UNION ALL SELECT c FROM tri)
              |  GROUP BY v)
              |SELECT dg.node AS doc_id, dg.deg,
              |  COALESCE(tc.t, 0) AS n_tri,
              |  (2 * COALESCE(tc.t, 0) * 1000000)
              |    // (dg.deg * (dg.deg - 1)) AS coeff_ppm
              |FROM dg LEFT JOIN tc ON dg.node = tc.node
              |ORDER BY doc_id""".stripMargin)),

    // ---- corpus snapshot diff (nightly-refresh audit): old = docs
    // missing the %7 slice, new = docs missing the %11 slice with the
    // %5 slice's text revised — statuses count added / removed /
    // changed / unchanged by normalized-text fingerprint
    QueryDef("q147_corpus_diff",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val old = docs.filter(col("doc_id") % 7 =!= 0)
        val fresh = docs.filter(col("doc_id") % 11 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")))
        graft.operators.Curation.corpusDiffSummary(old, fresh,
            "doc_id", "text")
          .orderBy(col("status"))
      },
      Some("""WITH o AS (SELECT doc_id, md5(array_to_string(
             |    list_filter(string_split_regex(lower(text), '\s+'),
             |      x -> len(x) > 0), ' ')) AS fp
             |  FROM documents WHERE doc_id % 7 <> 0),
             |nw AS (SELECT doc_id, md5(array_to_string(
             |    list_filter(string_split_regex(lower(
             |      CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
             |           ELSE text END), '\s+'),
             |      x -> len(x) > 0), ' ')) AS fp
             |  FROM documents WHERE doc_id % 11 <> 0),
             |d AS (SELECT COALESCE(o.doc_id, nw.doc_id) AS doc_id,
             |    CASE WHEN o.fp IS NULL THEN 'added'
             |         WHEN nw.fp IS NULL THEN 'removed'
             |         WHEN o.fp = nw.fp THEN 'unchanged'
             |         ELSE 'changed' END AS status
             |  FROM o FULL OUTER JOIN nw ON o.doc_id = nw.doc_id)
             |SELECT status, COUNT(*) AS n_docs FROM d
             |GROUP BY status ORDER BY status""".stripMargin)),

    // ---- market-basket association rules: frequent brand pairs per
    // order with support / confidence / lift in exact integer ppm
    QueryDef("q148_assoc_pairs",
      (s, dir) => {
        val li = t("lineitem")(s, dir)
          .select(col("l_orderkey"), col("l_partkey"))
          .join(broadcast(t("part")(s, dir)
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
        graft.operators.Assoc.frequentPairs(li, "l_orderkey",
          "p_brand", minSupport = 2L, topK = 20)
      },
      Some("""WITH b AS (SELECT DISTINCT l_orderkey AS bk,
             |    p_brand AS it
             |  FROM lineitem JOIN part ON l_partkey = p_partkey),
             |n AS (SELECT COUNT(DISTINCT bk) AS n FROM b),
             |si AS (SELECT it, COUNT(*) AS supp_i FROM b GROUP BY it),
             |pr AS (SELECT x.it AS item_a, y.it AS item_b,
             |    COUNT(*) AS supp_ab
             |  FROM b x JOIN b y ON x.bk = y.bk AND x.it < y.it
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
             |SELECT pr.item_a, pr.item_b, pr.supp_ab,
             |  sa.supp_i AS supp_a, sb.supp_i AS supp_b,
             |  (pr.supp_ab * 1000000) // sa.supp_i AS conf_ppm,
             |  (pr.supp_ab * n.n * 1000000)
             |    // (sa.supp_i * sb.supp_i) AS lift_ppm
             |FROM pr
             |JOIN si sa ON pr.item_a = sa.it
             |JOIN si sb ON pr.item_b = sb.it
             |CROSS JOIN n
             |ORDER BY supp_ab DESC, item_a, item_b
             |LIMIT 20""".stripMargin)),

    // ---- the EventAnalytics health section under the oracle:
    // per-type Hampel flags over the GAP-FILLED daily counts (q134's
    // densify feeding q127's arithmetic, per key) — zero-activity
    // days are real observations here
    QueryDef("q149_daily_anomalies",
      (s, dir) => graft.operators.Anomaly.hampelFlags(
          graft.operators.Series.gapFillDaily(
              t("events")(s, dir), "event_type", "ts")
            .select(col("k").as("event_type"), col("day"),
              col("n_events")),
          Seq("event_type"), "n_events", k = 3)
        .orderBy(col("event_type"), col("day")),
      Some(s"""WITH $oDailyFilled,
             |m AS (SELECT event_type,
             |    quantile_cont(n_events, 0.5) AS med
             |  FROM f GROUP BY 1),
             |d AS (SELECT f.event_type, f.day, f.n_events,
             |    abs(f.n_events - m.med) AS dev
             |  FROM f JOIN m ON f.event_type = m.event_type),
             |md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
             |  FROM d GROUP BY 1)
             |SELECT d.event_type, d.day, d.n_events,
             |  d.dev > 3.0 * md.mad AS is_anomaly
             |FROM d JOIN md ON d.event_type = md.event_type
             |ORDER BY d.event_type, d.day""".stripMargin)),

    // ---- relational division (the FORALL quotient): customers whose
    // orders span EVERY order priority — set-cover via distinct-count
    // equality, no correlated NOT EXISTS double negation
    QueryDef("q150_division",
      (s, dir) => {
        val o = t("orders")(s, dir)
        val nPrio = o.agg(
          countDistinct(col("o_orderpriority")).as("n_prio"))
        o.groupBy(col("o_custkey"))
          .agg(countDistinct(col("o_orderpriority")).as("n_cust_prio"),
            count(lit(1)).as("n_orders"))
          .crossJoin(broadcast(nPrio))
          .where(col("n_cust_prio") === col("n_prio"))
          .select(col("o_custkey"), col("n_orders"))
          .orderBy(col("o_custkey"))
      },
      Some("""WITH np AS (SELECT COUNT(DISTINCT o_orderpriority) AS n
             |  FROM orders)
             |SELECT o_custkey, COUNT(*) AS n_orders
             |FROM orders CROSS JOIN np
             |GROUP BY o_custkey, np.n
             |HAVING COUNT(DISTINCT o_orderpriority) = np.n
             |ORDER BY o_custkey""".stripMargin)),

    // ---- exact-moment Pearson correlation (hash-stable: decimal
    // moments, one fixed double formula — not the order-dependent
    // builtin corr())
    QueryDef("q151_correlation",
      (s, dir) => graft.operators.Stats.pearson(
        t("lineitem")(s, dir), "l_quantity", "l_extendedprice"),
      Some(s"""WITH $oQtyPriceMoments
             |SELECT n, round((n * sxy - sx * sy) /
             |  sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             |  AS corr
             |FROM m""".stripMargin)),

    // ---- chi-square contingency cells (lang × source association)
    // in exact integer milliunits — which cells deviate, and by how
    // much, with no float anywhere
    QueryDef("q152_chi2_cells",
      (s, dir) => graft.operators.Stats.chi2Cells(
          t("documents")(s, dir), "lang", "source")
        .orderBy(col("a"), col("b")),
      Some("""WITH b0 AS (SELECT lang AS a, source AS b
             |  FROM documents
             |  WHERE lang IS NOT NULL AND source IS NOT NULL),
             |obs AS (SELECT a, b, COUNT(*) AS obs FROM b0
             |  GROUP BY 1, 2),
             |ra AS (SELECT a, COUNT(*) AS ra FROM b0 GROUP BY 1),
             |cb AS (SELECT b, COUNT(*) AS cb FROM b0 GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n FROM b0)
             |SELECT obs.a, obs.b, obs.obs,
             |  (ra.ra * cb.cb * 1000) // n.n AS exp_milli,
             |  ((obs.obs * n.n - ra.ra * cb.cb) *
             |   (obs.obs * n.n - ra.ra * cb.cb) * 1000)
             |    // (n.n * ra.ra * cb.cb) AS chi2_milli
             |FROM obs JOIN ra USING (a) JOIN cb USING (b)
             |CROSS JOIN n
             |ORDER BY a, b""".stripMargin)),

    // ---- Benford first-digit audit of order totals (expected shares
    // are driver-computed literal constants — the engines evaluate no
    // transcendental)
    QueryDef("q153_benford",
      (s, dir) => graft.operators.Stats.benfordDigits(
          t("orders")(s, dir), "o_totalprice")
        .orderBy(col("digit")),
      Some(s"""WITH d AS (SELECT substr(CAST(CAST(floor(o_totalprice)
              |      AS BIGINT) AS VARCHAR), 1, 1) AS digit
              |  FROM orders WHERE o_totalprice >= 1),
              |c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
              |t AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM c),
              |e(digit, exp_ppm) AS (VALUES ${
                graft.operators.Stats.benfordPpm.map { case (d, p) =>
                  s"('$d', CAST($p AS BIGINT))" }.mkString(", ")})
              |SELECT c.digit, c.n, (c.n * 1000000) // t.t AS obs_ppm,
              |  e.exp_ppm
              |FROM c JOIN e USING (digit) CROSS JOIN t
              |ORDER BY digit""".stripMargin)),

    // ---- OLS trend fit (quantity → price), same exact-moment pass
    // as q151
    QueryDef("q154_ols",
      (s, dir) => graft.operators.Stats.olsFit(
        t("lineitem")(s, dir), "l_quantity", "l_extendedprice"),
      Some(s"""WITH $oQtyPriceMoments
             |SELECT n,
             |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
             |    AS slope,
             |  round((sy - ((n * sxy - sx * sy) /
             |    (n * sxx - sx * sx)) * sx) / n, 6) AS intercept,
             |  round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
             |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             |    AS r2
             |FROM m""".stripMargin)),

    // ---- KS distribution drift between returned and delivered line
    // items, fully integer (cross-multiplied CDF gap in ppm)
    QueryDef("q155_ks_drift",
      (s, dir) => graft.operators.Stats.ksDistance(
        t("lineitem")(s, dir), "l_extendedprice", "l_returnflag",
        "R", "N"),
      Some("""WITH ca AS (SELECT l_extendedprice AS v,
             |    COUNT(*) AS ca FROM lineitem
             |  WHERE l_returnflag = 'R' AND l_extendedprice IS NOT NULL
             |  GROUP BY 1),
             |cb AS (SELECT l_extendedprice AS v, COUNT(*) AS cb
             |  FROM lineitem
             |  WHERE l_returnflag = 'N' AND l_extendedprice IS NOT NULL
             |  GROUP BY 1),
             |m AS (SELECT COALESCE(ca.v, cb.v) AS v,
             |    COALESCE(ca.ca, 0) AS ca, COALESCE(cb.cb, 0) AS cb
             |  FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
             |cum AS (SELECT v,
             |    SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS cumA,
             |    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS cumB
             |  FROM m),
             |tt AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
             |    CAST(SUM(cb) AS BIGINT) AS n_b FROM m),
             |dd AS (SELECT MAX(abs(CAST(cumA AS BIGINT) * tt.n_b -
             |    CAST(cumB AS BIGINT) * tt.n_a)) AS dmax
             |  FROM cum CROSS JOIN tt)
             |SELECT tt.n_a, tt.n_b,
             |  (dd.dmax * 1000000) // (tt.n_a * tt.n_b) AS d_ppm
             |FROM dd CROSS JOIN tt""".stripMargin)),

    // ---- TPC-H Q19 shape (disjunctive discounted revenue): three
    // OR'd conjunctive branches spanning BOTH join sides — the
    // optimizer stress case: the common p_partkey join key must still
    // drive one broadcast equi-join, with the disjunction evaluated
    // as a post-join filter, not a nested-loop
    QueryDef("q156_tpch19",
      (s, dir) => {
        val p = t("part")(s, dir)
          .select(col("p_partkey"), col("p_brand"), col("p_size"))
        val li = t("lineitem")(s, dir)
          .select(col("l_partkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_discount"))
        val branch = (brand: String, szHi: Int, qLo: Int, qHi: Int) =>
          col("p_brand") === brand &&
          col("p_size").between(1, szHi) &&
          col("l_quantity").between(qLo, qHi)
        li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .where(branch("Brand#1", 15, 1, 11) ||
            branch("Brand#2", 25, 10, 20) ||
            branch("Brand#3", 35, 20, 30))
          .agg(count(lit(1)).as("n_rows"),
            dsum2(col("l_extendedprice"), lit(1.0) - col("l_discount"))
              .as("revenue"))
      },
      Some(s"""SELECT COUNT(*) AS n_rows,
              |  ${oSum2("l_extendedprice", "1.0 - l_discount")}
              |    AS revenue
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
              |    AND l_quantity BETWEEN 1 AND 11)
              |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
              |    AND l_quantity BETWEEN 10 AND 20)
              |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
              |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // ---- asymmetric containment near-dup (Broder): quote/subset
    // detection — the case symmetric Jaccard structurally misses
    // (DedupSpec pins the quoted-paragraph case; this data's
    // containment pairs coincide with its near-dups)
    QueryDef("q157_containment",
      (s, dir) => graft.operators.Dedup.containmentPairs(
          t("documents")(s, dir), "doc_id", "text", n = 3,
          threshold = 0.8)
        .orderBy(col("contained"), col("container")),
      Some(oContainmentPairs)),

    // ---- per-doc novelty rate in ingestion order (diversity decay):
    // fraction of a doc's shingles never seen in any earlier doc —
    // resolved by ONE min-aggregation, no corpus-order window
    QueryDef("q158_novelty",
      (s, dir) => graft.operators.Dedup.noveltyRates(
          t("documents")(s, dir), "doc_id", "text", n = 3)
        .orderBy(col("doc_id")),
      Some(s"""WITH ${CorpusOps.oShinglesSql},
              |hs AS (SELECT doc_id, ${CorpusOps.oH60("s")} AS h FROM sh),
              |f AS (SELECT h, MIN(doc_id) AS first_id FROM hs
              |  GROUP BY h)
              |SELECT hs.doc_id, COUNT(*) AS n_shingles,
              |  CAST(SUM(CASE WHEN f.first_id = hs.doc_id THEN 1
              |    ELSE 0 END) AS BIGINT) AS n_novel,
              |  (CAST(SUM(CASE WHEN f.first_id = hs.doc_id THEN 1
              |    ELSE 0 END) AS BIGINT) * 1000000) // COUNT(*)
              |    AS novelty_ppm
              |FROM hs JOIN f USING (h)
              |GROUP BY hs.doc_id ORDER BY hs.doc_id""".stripMargin)),

    // ---- second-order path mining: dominant 3-step user journeys
    QueryDef("q159_trigram_paths",
      (s, dir) => Funnel.topTrigramPaths(t("events")(s, dir),
        "user_id", "event_type", "ts", "event_id", topK = 10),
      Some("""WITH x AS (SELECT user_id, event_type AS s1,
             |    LEAD(event_type, 1) OVER w AS s2,
             |    LEAD(event_type, 2) OVER w AS s3
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |tri AS (SELECT s1, s2, s3, COUNT(*) AS n FROM x
             |  WHERE s3 IS NOT NULL GROUP BY 1, 2, 3),
             |t AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM tri)
             |SELECT s1, s2, s3, n, (n * 1000000) // t.t AS share_ppm
             |FROM tri CROSS JOIN t
             |ORDER BY n DESC, s1, s2, s3 LIMIT 10""".stripMargin)),

    // ---- referential-integrity audit: the DQ report a warehouse
    // runs nightly — duplicate PKs, orphaned FKs, null keys — one
    // (check, n_violations) frame, every check an aggregation or
    // broadcastable anti-join
    QueryDef("q160_integrity_report",
      (s, dir) => {
        val o = t("orders")(s, dir)
        val li = t("lineitem")(s, dir)
        val c = t("customer")(s, dir)
        def row(name: String, d: org.apache.spark.sql.DataFrame) =
          d.agg(count(lit(1)).as("n_violations"))
            .select(lit(name).as("check"), col("n_violations"))
        val dupPk = row("dup_orderkey",
          o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
            .where(col("c") > 1))
        val orphanLi = row("orphan_lineitem",
          li.select(col("l_orderkey"))
            .join(o.select(col("o_orderkey")),
              col("l_orderkey") === col("o_orderkey"), "left_anti"))
        val orphanOrd = row("orphan_order_customer",
          o.select(col("o_custkey"))
            .join(c.select(col("c_custkey")),
              col("o_custkey") === col("c_custkey"), "left_anti"))
        val nullKeys = row("null_orderkey",
          o.where(col("o_orderkey").isNull))
        dupPk.unionAll(orphanLi).unionAll(orphanOrd).unionAll(nullKeys)
          .orderBy(col("check"))
      },
      Some("""SELECT 'dup_orderkey' AS "check", COUNT(*) AS n_violations
             |FROM (SELECT o_orderkey FROM orders GROUP BY 1
             |      HAVING COUNT(*) > 1)
             |UNION ALL
             |SELECT 'orphan_lineitem', COUNT(*) FROM lineitem li
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_orderkey = li.l_orderkey)
             |UNION ALL
             |SELECT 'orphan_order_customer', COUNT(*) FROM orders o
             |WHERE NOT EXISTS (SELECT 1 FROM customer c
             |  WHERE c.c_custkey = o.o_custkey)
             |UNION ALL
             |SELECT 'null_orderkey', COUNT(*) FROM orders
             |WHERE o_orderkey IS NULL
             |ORDER BY "check"""".stripMargin)))
}
