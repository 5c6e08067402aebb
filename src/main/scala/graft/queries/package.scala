package graft

import graft.functions.Jpeg
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

package object queries {
  /** A harness query: (session, sfDir) → result DataFrame. */
  type QueryFn = (SparkSession, String) => DataFrame

  /** One catalog entry: name, Spark implementation, optional DuckDB oracle
    * SQL (None ⇒ driver records a weaker rows-only check).
    */
  final case class QueryDef(name: String, fn: QueryFn, oracle: Option[String])

  /** The catalog's table loader: `t("orders")(s, dir)`. */
  def t(name: String): QueryFn = (s, dir) => Tables.load(s, dir, name)

  /** A catalog row's scratch directory, `graft_<tag>_<md5>_<pid>`
    * under `java.io.tmpdir`, deleted at JVM exit. Keyed by the sf dir
    * and the process: concurrent harness runs (Verify at one sf, Bench
    * at another, parallel drivers) must not overwrite each other's
    * files mid-read, and re-runs within one process stay idempotent
    * through overwrite mode. md5 of the canonical path, not
    * `String.hashCode`: a 32-bit hash of two distinct dirs can collide
    * and cross-clobber mid-read. */
  private[queries] def scratchDir(dir: String, tag: String): java.io.File = {
    val dirKey = try new java.io.File(dir).getCanonicalPath
      catch { case _: Throwable => dir }
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dirKey.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16) + "_" +
      java.lang.ProcessHandle.current().pid()
    val f = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${tag}_$h")
    registerScratchCleanup(f)
    f
  }

  /** Recursive-delete `dir` at JVM exit, registered once per path — a
    * per-process scratch copy must not accumulate across bench/verify
    * runs (the per-pid tag that isolates concurrent processes would
    * otherwise leak a corpus copy per invocation). Deletion at exit,
    * not after the query: the returned frame reads the files lazily,
    * possibly multiple times (cold + steady). */
  private val scratchRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def registerScratchCleanup(dir: java.io.File): Unit =
    if (scratchRegistered.add(dir.getAbsolutePath))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles()
          if (kids != null) kids.foreach(rm)
          f.delete(): Unit
        }
        rm(dir)
      }))

  /** Exact decimal sum of a ~2-decimal double column, returned as DOUBLE.
    * Decimal accumulation is associative, so the result is independent of
    * partitioning/accumulation order — required for hash-stable comparison
    * against DuckDB (see SparkEntry scaladoc).
    */
  def dsum(c: Column): Column = sum(c.cast("decimal(12,2)")).cast("double")

  /** Same for a product of two ~2-decimal doubles (e.g. price×(1−disc)). */
  def dsum2(a: Column, b: Column): Column =
    sum(a.cast("decimal(12,2)") * b.cast("decimal(12,2)")).cast("double")

  /** Oracle-side twin of [[dsum]]. */
  def oSum(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(12,2))) AS DOUBLE)"
  def oSum2(a: String, b: String): String =
    s"CAST(SUM(CAST($a AS DECIMAL(12,2)) * CAST($b AS DECIMAL(12,2))) AS DOUBLE)"

  // Shapes shared by catalog rows in more than one file. The Spark side
  // and the oracle side of a shape are separate helpers: an oracle
  // fragment is plain DuckDB SQL text, never built from a Spark-side
  // helper, so the oracle stays an independent reference. Fragments
  // that read another catalog object are defs, not vals: the catalog
  // objects read them while they initialise.

  // ---- events: as-of joins, SCD2, funnels, daily series

  /** The as-of join rows' sides: the click events
    * (event_id, user_id, ts, value) and the error events
    * (user_id, <err>_ts, <err>_value), deduped to the latest event_id
    * per (user, ts) for determinism. */
  private[queries] def clicksAndErrors(s: SparkSession, dir: String,
      err: String = "err"): (DataFrame, DataFrame) = {
    val ev = t("events")(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("value"))
    val errW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("ts"))
      .orderBy(col("event_id").desc)
    val errors = ev.filter(col("event_type") === "error")
      .withColumn("_r", row_number().over(errW))
      .filter(col("_r") === 1)
      .select(col("user_id"), col("ts").as(s"${err}_ts"),
        col("value").as(s"${err}_value"))
    (clicks, errors)
  }

  /** Oracle of the as-of join rows: each click gets the latest
    * preceding (or simultaneous) error of its user — DuckDB's native
    * ASOF JOIN over the same deduped sides. */
  private[queries] val oAsOfClickErrors: String =
    """WITH ev AS (SELECT event_id, user_id,
      |    CAST(ts AS TIMESTAMP) AS ts, value, event_type
      |  FROM events),
      |clicks AS (SELECT event_id, user_id, ts, value FROM ev
      |  WHERE event_type = 'click'),
      |err0 AS (SELECT user_id, ts, value, event_id FROM ev
      |  WHERE event_type = 'error'),
      |err1 AS (SELECT *, row_number() OVER (
      |    PARTITION BY user_id, ts ORDER BY event_id DESC) AS r
      |  FROM err0),
      |errors AS (SELECT user_id, ts AS err_ts,
      |    value AS err_value FROM err1 WHERE r = 1)
      |SELECT c.event_id, c.user_id, c.ts, c.value,
      |  e.err_ts, e.err_value
      |FROM clicks c ASOF LEFT JOIN errors e
      |  ON c.user_id = e.user_id AND c.ts >= e.err_ts
      |ORDER BY c.event_id""".stripMargin

  /** The SCD2 rows' event log (user_id, ts, value): latest writer (by
    * event_id) wins at equal timestamps. */
  private[queries] def userValueLog(s: SparkSession,
      dir: String): DataFrame = {
    val wTie = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("ts"))
      .orderBy(col("event_id").desc)
    t("events")(s, dir).withColumn("_r", row_number().over(wTie))
      .filter(col("_r") === 1)
      .select(col("user_id"), col("ts"), col("value"))
  }

  /** Oracle of the SCD2 rows: the validity windows of each user's
    * value runs, rebuilt from the whole log. */
  private[queries] val oScd2History: String =
    """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    value, event_id FROM events),
      |d0 AS (SELECT *, row_number() OVER (PARTITION BY user_id, ts
      |    ORDER BY event_id DESC) AS r FROM ev),
      |d AS (SELECT user_id, ts, value FROM d0 WHERE r = 1),
      |c AS (SELECT *, CASE WHEN value IS NOT DISTINCT FROM
      |      lag(value) OVER (PARTITION BY user_id ORDER BY ts)
      |      THEN 0 ELSE 1 END AS chg,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      |  FROM d),
      |f AS (SELECT user_id, value, ts AS valid_from FROM c
      |  WHERE chg = 1 OR rn = 1)
      |SELECT user_id, value, valid_from,
      |  coalesce(lead(valid_from) OVER (PARTITION BY user_id
      |    ORDER BY valid_from),
      |    TIMESTAMP '2200-01-01 00:00:00') AS valid_to
      |FROM f ORDER BY user_id, valid_from""".stripMargin

  /** Oracle CTEs of the view → click → purchase funnel rows: each viewer's
    * greedy-earliest stage times `s3(user_id, t1, t2, t3)`, each stage
    * strictly after the previous one (NULL once the chain breaks). */
  private[queries] val oFunnelTimes: String =
    """ev AS (SELECT user_id, event_type,
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
      |  GROUP BY 1, 2, 3)""".stripMargin

  /** Oracle CTEs: each event type's per-day counts
    * `c(event_type, day, n)` and its calendar `cal(event_type, day)`,
    * every day from its first event to its last. */
  private[queries] val oDailyCalendar: String =
    """e AS (SELECT event_type, CAST(ts AS DATE) AS day
      |  FROM events),
      |c AS (SELECT event_type, day, COUNT(*) AS n FROM e
      |  GROUP BY 1, 2),
      |sp AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
      |  FROM e GROUP BY 1),
      |cal AS (SELECT event_type,
      |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
      |      AS DATE) AS day FROM sp)""".stripMargin

  /** [[oDailyCalendar]] plus the gap-filled daily series
    * `f(event_type, day, n_events)`: BIGINT, 0 on silent days. */
  private[queries] val oDailyFilled: String =
    s"""$oDailyCalendar,
       |f AS (SELECT cal.event_type, cal.day,
       |    CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
       |  FROM cal LEFT JOIN c ON cal.event_type = c.event_type
       |    AND cal.day = c.day)""".stripMargin

  /** Oracle CTEs: the total event count per day `c(day, x)` and the
    * calendar `cal(d0, day)` from the first event day to the last. */
  private[queries] val oDailyTotals: String =
    """c AS (SELECT CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1),
      |sp AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM c),
      |cal AS (SELECT d0, CAST(unnest(generate_series(
      |    CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
      |    INTERVAL 1 DAY)) AS DATE) AS day FROM sp)""".stripMargin

  /** Oracle CTEs of the daily-series rows: the total event count per day
    * over the calendar from the first event day to the last,
    * `dense(t, x)` with t the day's offset and x = 0 on silent days. */
  private[queries] val oDenseDays: String =
    s"""$oDailyTotals,
      |dense AS (SELECT CAST(DATEDIFF('day', cal.d0, cal.day)
      |    AS BIGINT) AS t, COALESCE(c.x, 0) AS x
      |  FROM cal LEFT JOIN c USING (day))""".stripMargin

  // ---- text: BM25, shingle pairs, substring pairs, unigram LM, classifier

  /** Oracle: the BM25 (k1 = 1.2, b = 0.75) top 10 of each of `queries`
    * (`query_id -> text`) over `docsFrom` (`WHERE docsWhere`, if set),
    * ranked by score, then doc_id — the
    * [[graft.operators.Retrieval.bm25OracleCtes]] chain plus the rank
    * tail, selecting `cols`. */
  private[queries] def oBm25Top10(queries: Seq[(Int, String)],
      docsWhere: String = "", docsFrom: String = "documents",
      cols: String = "query_id, doc_id, score,\n  CAST(rnk AS BIGINT) AS rank"
  ): String =
    s"""WITH ${graft.operators.Retrieval.bm25OracleCtes(
         queries.map { case (q, x) => s"($q, '$x')" }.mkString(", "),
         1.2, 0.75, docsWhere, docsFrom)},
       |r AS (SELECT query_id, doc_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS rnk
       |  FROM sc)
       |SELECT $cols
       |FROM r WHERE rnk <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** Oracle CTEs: the documents' 3-shingle hashes `hs(doc_id, h)`,
    * shingle counts `sz(doc_id, n)` and the shared-shingle counts of
    * every pair `p(da, db, inter)`, da < db. */
  private[queries] def oShinglePairs: String =
    s"""${CorpusOps.oShinglesSql},
       |hs AS (SELECT doc_id, ${CorpusOps.oH60("s")} AS h FROM sh),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |p AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) AS inter
       |  FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  /** Oracle: the shingle-Jaccard ≥ 0.5 document pairs
    * (da, db, inter, jaccard). */
  private[queries] def oJaccardPairs: String =
    s"""WITH ${CorpusOps.oShinglesSql},
       |hs AS (SELECT doc_id,
       |  ${CorpusOps.oH60("s")} AS h FROM sh),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |p AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) AS inter
       |  FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT da, db, inter,
       |  inter / (x.n + y.n - inter) AS jaccard
       |FROM p JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
       |WHERE inter / (x.n + y.n - inter) >= 0.5
       |ORDER BY da, db""".stripMargin

  /** Oracle: the shingle containment ≥ 0.8 pairs — the smaller
    * document's share of shingles it shares with the larger one. */
  private[queries] def oContainmentPairs: String =
    s"""WITH $oShinglePairs
       |SELECT CASE WHEN x.n <= y.n THEN da ELSE db END
       |    AS contained,
       |  CASE WHEN x.n <= y.n THEN db ELSE da END AS container,
       |  inter, LEAST(x.n, y.n) AS n_small,
       |  GREATEST(x.n, y.n) AS n_big,
       |  inter / LEAST(x.n, y.n) AS containment
       |FROM p JOIN sz x ON da = x.doc_id
       |JOIN sz y ON db = y.doc_id
       |WHERE inter / LEAST(x.n, y.n) >= 0.8
       |ORDER BY contained, container""".stripMargin

  /** Oracle CTEs (after `WITH RECURSIVE`): the shingle-Jaccard ≥ 0.6
    * duplicate `pairs(da, db)` of the documents and their undirected
    * `edges(src, dst)`. */
  private[queries] def oJaccardEdges: String =
    s"""$oShinglePairs,
       |pairs AS (SELECT da, db FROM p
       |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
       |  WHERE inter / (x.n + y.n - inter) >= 0.6),
       |edges AS (SELECT da AS src, db AS dst FROM pairs
       |  UNION ALL SELECT db, da FROM pairs)""".stripMargin

  /** Oracle: the recursive `walk(id, lbl)` that labels each document
    * with every smaller doc id it reaches over `edges(src, dst)` — its
    * connected component is `min(lbl)`. */
  private[queries] val oWalk: String =
    """walk AS (
      |  SELECT doc_id AS id, doc_id AS lbl FROM documents
      |  UNION
      |  SELECT e.dst AS id, w.lbl
      |  FROM walk w JOIN edges e ON w.id = e.src
      |  WHERE w.lbl < e.dst)""".stripMargin

  /** Oracle CTEs: the distinct 3-shingles `sh(doc_id, s)` of the
    * documents in `docs` (a FROM clause: the corpus as an index holds
    * it). */
  private[queries] def oIndexShingles(docs: String): String =
    s"""w AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |      x -> len(x) > 0) AS ws
       |  FROM $docs),
       |idx AS (SELECT doc_id, ws,
       |    unnest(generate_series(1, len(ws) - 2)) AS i
       |  FROM w WHERE len(ws) >= 3),
       |sh AS (SELECT DISTINCT doc_id,
       |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
       |  FROM idx)""".stripMargin

  /** Oracle after the shingle CTE `sh`: the shingle-Jaccard ≥ 0.5 pairs
    * of the shingle-index rows, kept where `touching` (the pairs that
    * touch the ingested documents). */
  private[queries] def oIndexJaccardPairs(touching: String): String =
    s"""hs AS (SELECT doc_id, ${CorpusOps.oH60("s")} AS h
       |  FROM sh),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM hs
       |  GROUP BY doc_id),
       |p AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) AS inter
       |  FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT da, db, inter,
       |  inter / (x.n + y.n - inter) AS jaccard
       |FROM p JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
       |WHERE inter / (x.n + y.n - inter) >= 0.5
       |  AND $touching
       |ORDER BY da, db""".stripMargin

  /** The re-crawl mutation of the upsert rows, shared by the Spark side
    * and the oracle: doc_id%5=0 docs get this suffix appended — a
    * changed page body whose stale index facts must die. */
  private[queries] val recrawlSuffix = " recrawl revision fresh tokens"
  private[queries] val oMutatedDocs: String =
    "(SELECT doc_id, CASE WHEN doc_id % 5 = 0 " +
      s"THEN text || '$recrawlSuffix' ELSE text END AS text " +
      "FROM documents)"

  /** Oracle: the winnowed-fingerprint (k = 25, w = 10) substring
    * candidate pairs sharing ≥ 2 fingerprints; `incrementOnly` keeps
    * the pairs touching the doc_id%4=3 increment. */
  private[queries] def oSubstringPairs(incrementOnly: Boolean): String =
    s"""WITH nrm AS (SELECT doc_id, array_to_string(list_filter(
       |    string_split_regex(lower(text), '\\s+'),
       |    x -> len(x) > 0), ' ') AS t FROM documents),
       |g AS (SELECT doc_id, t FROM nrm WHERE len(t) >= 25),
       |p0 AS (SELECT doc_id, t,
       |    unnest(generate_series(1, len(t) - 24)) AS i FROM g),
       |p AS (SELECT doc_id, i,
       |    CAST(concat('0x', substr(md5(substr(t, i, 25)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM p0),
       |m AS (SELECT doc_id, i, MIN(h) OVER (PARTITION BY doc_id
       |    ORDER BY i ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING)
       |      AS mh,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS np FROM p),
       |f AS (SELECT DISTINCT doc_id, mh AS h FROM m
       |  WHERE i <= greatest(np - 9, 1)),
       |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
       |    COUNT(*) AS shared
       |  FROM f a JOIN f b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT da, db, CAST(shared AS BIGINT) AS shared FROM pairs
       |WHERE shared >= 2${
         if (incrementOnly) " AND (da % 4 = 3 OR db % 4 = 3)\n" else " "
       }ORDER BY da, db""".stripMargin

  /** The substring-pair oracle of the fingerprint-index rows: the pairs
    * touching the doc_id%4=3 increment. */
  private[queries] val oSubstringIncrementPairs: String =
    oSubstringPairs(incrementOnly = true)

  /** Oracle CTEs of the unigram-LM score: per-word corpus log-probs
    * rounded to DECIMAL(20,6) and each document's token count and
    * tf-weighted log-prob sum, `d(doc_id, n_tokens, s)`. */
  private[queries] val oUnigramLogProbs: String =
    """w AS (SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0)) AS word FROM documents),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf
      |  FROM w GROUP BY doc_id, word),
      |c AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
      |n AS (SELECT SUM(cnt) AS n_total FROM c),
      |lp AS (SELECT word, CAST(round(ln(cnt / n_total), 6)
      |    AS DECIMAL(20,6)) AS logp FROM c, n),
      |d AS (SELECT tf.doc_id, SUM(tf.tf) AS n_tokens,
      |    SUM(lp.logp * tf.tf) AS s
      |  FROM tf JOIN lp USING (word) GROUP BY tf.doc_id)""".stripMargin

  /** Oracle CTEs of the hashed linear classifier (seed "cls", 2^18
    * buckets): each document's unigram+bigram feature count and
    * integer milli-weight sum, `s(doc_id, n_feats, w_milli)`. */
  private[queries] val oHashedWeights: String =
    """w AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'),
      |      x -> len(x) > 0) AS ws FROM documents),
      |f AS (SELECT doc_id, list_concat(ws,
      |    list_transform(generate_series(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i+1])) AS feats FROM w),
      |e AS (SELECT doc_id, unnest(feats) AS feat FROM f),
      |b AS (SELECT doc_id,
      |    CAST(concat('0x', substr(md5('cls|' || feat), 1, 15))
      |      AS BIGINT) % 262144 AS bucket FROM e),
      |s AS (SELECT doc_id, COUNT(*) AS n_feats,
      |    SUM(CAST(concat('0x',
      |        substr(md5('w|cls|' || CAST(bucket AS VARCHAR)),
      |          1, 15)) AS BIGINT) % 2001 - 1000) AS w_milli
      |  FROM b GROUP BY doc_id)""".stripMargin

  // ---- vectors: IVF-PQ, PQ, margin mining

  /** Oracle CTEs of the seeded coarse quantizer: `e(vec_id, d)`, the
    * 8 lowest-id cells `ccen(cel_id, cele)` (of the vectors
    * `seedWhere`, if set) and every vector's rounded cosine to every
    * cell, `ca0(id, cel_id, csim)`. */
  private[queries] def oSeededCells(seedWhere: String = ""): String =
    s"""e AS (SELECT vec_id,
       |    CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
       |ccen AS (SELECT vec_id AS cel_id, d AS cele
       |  FROM e ${seedWhere}ORDER BY vec_id LIMIT 8),
       |ca0 AS (SELECT e.vec_id AS id, cel_id,
       |    round(list_dot_product(e.d, cele) /
       |      (sqrt(list_dot_product(e.d, e.d)) *
       |       sqrt(list_dot_product(cele, cele))), 6) AS csim
       |  FROM e, ccen)""".stripMargin

  /** The 2-iteration Lloyd replay of the k-means training row's
    * oracle, ending in the per-dimension means `m2(cell, p, m)`. */
  private[queries] val oLloyd2Means: String =
    """e AS (SELECT vec_id,
      |    CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
      |en AS (SELECT vec_id, d,
      |    sqrt(list_dot_product(d, d)) AS nrm FROM e),
      |c0 AS (SELECT vec_id AS cen_id, d AS ce,
      |    sqrt(list_dot_product(d, d)) AS cn
      |  FROM e ORDER BY vec_id LIMIT 8),
      |a1r AS (SELECT en.vec_id, c0.cen_id,
      |    round(list_dot_product(en.d, c0.ce) /
      |      (en.nrm * c0.cn), 6) AS cs
      |  FROM en, c0),
      |a1 AS (SELECT vec_id, cen_id AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cs DESC, cen_id) AS r FROM a1r)
      |  WHERE r = 1),
      |m1 AS (SELECT a1.cell, t.p,
      |    round(avg(en.d[t.p + 1]), 6) AS m
      |  FROM a1 JOIN en ON a1.vec_id = en.vec_id,
      |    range(0, 64) t(p)
      |  GROUP BY a1.cell, t.p),
      |c1 AS (SELECT cell AS cen_id, list(m ORDER BY p) AS ce
      |  FROM m1 GROUP BY cell),
      |c1n AS (SELECT cen_id, ce,
      |    sqrt(list_dot_product(ce, ce)) AS cn FROM c1),
      |a2r AS (SELECT en.vec_id, c1n.cen_id,
      |    round(list_dot_product(en.d, c1n.ce) /
      |      (en.nrm * c1n.cn), 6) AS cs
      |  FROM en, c1n),
      |a2 AS (SELECT vec_id, cen_id AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cs DESC, cen_id) AS r FROM a2r)
      |  WHERE r = 1),
      |m2 AS (SELECT a2.cell, t.p,
      |    round(avg(en.d[t.p + 1]), 6) AS m
      |  FROM a2 JOIN en ON a2.vec_id = en.vec_id,
      |    range(0, 64) t(p)
      |  GROUP BY a2.cell, t.p)""".stripMargin

  /** [[oLloyd2Means]] as trained cells `c2n(cen_id, ce, cn)` and every
    * vector's rounded cosine to every cell, `ca0(id, cel_id, csim)` —
    * shared verbatim by the training and the trained-search rows so
    * they can never drift apart. */
  private[queries] val oTrainedCells: String =
    s"""$oLloyd2Means,
       |c2 AS (SELECT cell AS cen_id, list(m ORDER BY p) AS ce
       |  FROM m2 GROUP BY cell),
       |c2n AS (SELECT cen_id, ce,
       |    sqrt(list_dot_product(ce, ce)) AS cn FROM c2),
       |ca0 AS (SELECT en.vec_id AS id, c2n.cen_id AS cel_id,
       |    round(list_dot_product(en.d, c2n.ce) /
       |      (en.nrm * c2n.cn), 6) AS csim
       |  FROM en, c2n)""".stripMargin

  /** Oracle CTEs: each vector's cell `cellof(id, cell)` (its top
    * `ca0` cell) and the 2 probed cells `probes(query_id, cell)` of
    * the queries vec_id < 12. */
  private val oCellProbes: String =
    """ca1 AS (SELECT *, row_number() OVER (PARTITION BY id
      |    ORDER BY csim DESC, cel_id) AS r FROM ca0),
      |cellof AS (SELECT id, cel_id AS cell FROM ca1 WHERE r = 1),
      |qp1 AS (SELECT *, row_number() OVER (PARTITION BY id
      |    ORDER BY csim DESC, cel_id) AS r FROM ca0
      |  WHERE id < 12),
      |probes AS (SELECT id AS query_id, cel_id AS cell
      |  FROM qp1 WHERE r <= 2)""".stripMargin

  /** The ADC top-5 tail of the IVF-PQ oracles: rank each query's
    * candidates `sums(query_id, neighbor_id, adist)`. */
  private val oAdcTop5: String =
    """r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY adist, neighbor_id) AS rank FROM sums)
      |SELECT query_id, neighbor_id, adist,
      |  CAST(rank AS BIGINT) AS rank
      |FROM r WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Oracle after a cell-similarity CTE `ca0(id, cel_id, csim)` over
    * `e(vec_id, d)`: the IVF-PQ top 5 of the queries vec_id < 12 — 2
    * probed cells, 8 × 8-dim PQ codes over the 16 lowest-id seeds (of
    * the vectors `seedWhere`, if set), DECIMAL ADC sums over the probed
    * cells' candidates (`exclude` drops more of them). */
  private[queries] def oIvfPqSearch(seedWhere: String = "",
      exclude: String = ""): String =
    s"""$oCellProbes,
       |s AS (SELECT vec_id, t.j, d[t.j*8+1 : t.j*8+8] AS sv
       |  FROM e, range(0, 8) t(j)),
       |pcen AS (SELECT j, s.vec_id AS cen_id, sv AS cv FROM s
       |  WHERE s.vec_id IN (SELECT vec_id FROM e
       |    ${seedWhere}ORDER BY vec_id LIMIT 16)),
       |pa0 AS (SELECT s.vec_id AS id, s.j, cen_id,
       |    round(list_dot_product(sv, sv)
       |      - 2 * list_dot_product(sv, cv)
       |      + list_dot_product(cv, cv), 6) AS dist2
       |  FROM s JOIN pcen ON s.j = pcen.j),
       |pa1 AS (SELECT *, row_number() OVER (PARTITION BY id, j
       |    ORDER BY dist2, cen_id) AS r FROM pa0),
       |codes AS (SELECT id, j, cen_id AS code FROM pa1
       |  WHERE r = 1),
       |qs AS (SELECT vec_id AS query_id, j, sv AS qv FROM s
       |  WHERE vec_id < 12),
       |tbl AS (SELECT query_id, qs.j, cen_id AS code,
       |    CAST(round(list_dot_product(qv, qv)
       |      - 2 * list_dot_product(qv, cv)
       |      + list_dot_product(cv, cv), 6)
       |      AS DECIMAL(20,6)) AS d2
       |  FROM qs JOIN pcen ON qs.j = pcen.j),
       |sums AS (SELECT p.query_id, c.id AS neighbor_id,
       |    CAST(SUM(d2) AS DOUBLE) AS adist
       |  FROM codes c
       |  JOIN cellof ON c.id = cellof.id
       |  JOIN probes p ON p.cell = cellof.cell
       |  JOIN tbl ON tbl.query_id = p.query_id
       |    AND tbl.j = c.j AND tbl.code = c.code
       |  WHERE p.query_id != c.id$exclude
       |  GROUP BY p.query_id, c.id),
       |$oAdcTop5""".stripMargin

  /** Oracle: the IVF-PQ top 5 over seeded cells (the live IVF-PQ row);
    * `exclude` drops candidates (deleted ids). Every persisted-index
    * row that must reproduce the live pipeline bit for bit shares it. */
  private[queries] def oIvfPqTopK(exclude: String = ""): String =
    s"""WITH ${oSeededCells()},
       |${oIvfPqSearch(exclude = exclude)}""".stripMargin

  /** Oracle after `ca0`: the residual IVF-PQ top 5 of the queries
    * vec_id < 12 — per-cell residuals against the cell table
    * `cells(id, vec)`, PQ codes over the 16 lowest-id residual seeds,
    * per-cell ADC tables for the 2 probed cells. */
  private[queries] def oResidualSearch(cells: String, id: String,
      vec: String): String =
    s"""ca1 AS (SELECT *, row_number() OVER (PARTITION BY id
       |    ORDER BY csim DESC, cel_id) AS r FROM ca0),
       |cellof AS (SELECT id, cel_id AS cell FROM ca1 WHERE r = 1),
       |res AS (SELECT c.id, c.cell,
       |    list_transform(list_zip(e.d, cc.$vec),
       |      x -> x[1] - x[2]) AS rv
       |  FROM cellof c JOIN e ON c.id = e.vec_id
       |  JOIN $cells cc ON c.cell = cc.$id),
       |s AS (SELECT id, cell, t.j, rv[t.j*8+1 : t.j*8+8] AS sv
       |  FROM res, range(0, 8) t(j)),
       |pcen AS (SELECT j, s.id AS cen_id, sv AS cv FROM s
       |  WHERE s.id IN (SELECT vec_id FROM e
       |    ORDER BY vec_id LIMIT 16)),
       |pa0 AS (SELECT s.id, s.j, cen_id,
       |    round(list_dot_product(sv, sv)
       |      - 2 * list_dot_product(sv, cv)
       |      + list_dot_product(cv, cv), 6) AS dist2
       |  FROM s JOIN pcen ON s.j = pcen.j),
       |pa1 AS (SELECT *, row_number() OVER (PARTITION BY id, j
       |    ORDER BY dist2, cen_id) AS r FROM pa0),
       |codes AS (SELECT id, j, cen_id AS code FROM pa1
       |  WHERE r = 1),
       |qp1 AS (SELECT *, row_number() OVER (PARTITION BY id
       |    ORDER BY csim DESC, cel_id) AS r FROM ca0
       |  WHERE id < 12),
       |probes AS (SELECT id AS query_id, cel_id AS cell
       |  FROM qp1 WHERE r <= 2),
       |qres AS (SELECT p.query_id, p.cell,
       |    list_transform(list_zip(e.d, cc.$vec),
       |      x -> x[1] - x[2]) AS qr
       |  FROM probes p JOIN e ON p.query_id = e.vec_id
       |  JOIN $cells cc ON p.cell = cc.$id),
       |qs AS (SELECT query_id, cell, t.j,
       |    qr[t.j*8+1 : t.j*8+8] AS qv
       |  FROM qres, range(0, 8) t(j)),
       |tbl AS (SELECT query_id, cell, qs.j, cen_id AS code,
       |    CAST(round(list_dot_product(qv, qv)
       |      - 2 * list_dot_product(qv, cv)
       |      + list_dot_product(cv, cv), 6)
       |      AS DECIMAL(20,6)) AS d2
       |  FROM qs JOIN pcen ON qs.j = pcen.j),
       |sums AS (SELECT t.query_id, c.id AS neighbor_id,
       |    CAST(SUM(d2) AS DOUBLE) AS adist
       |  FROM codes c
       |  JOIN cellof cf ON c.id = cf.id
       |  JOIN tbl t ON t.cell = cf.cell AND t.j = c.j
       |    AND t.code = c.code
       |  WHERE t.query_id != c.id
       |  GROUP BY t.query_id, c.id),
       |$oAdcTop5""".stripMargin

  /** Oracle of the IVF-PQ upsert rows: the live IVF-PQ top 5 with
    * cells and codebook seeded from the original vectors and every
    * assignment, code and query over the corpus with the vec_id%5=0
    * embeddings negated (re-embedded under the same id). */
  private[queries] val oAnnUpsert: String =
    """WITH e AS MATERIALIZED (SELECT vec_id,
       |    CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
       |em AS MATERIALIZED (SELECT vec_id, CASE
       |    WHEN vec_id % 5 = 0
       |    THEN list_transform(d, x -> -x) ELSE d END AS d
       |  FROM e),
       |s0 AS MATERIALIZED (SELECT vec_id, t.j,
       |    d[t.j*8+1 : t.j*8+8] AS sv FROM e, range(0, 8) t(j)),
       |s AS MATERIALIZED (SELECT vec_id, t.j,
       |    d[t.j*8+1 : t.j*8+8] AS sv FROM em, range(0, 8) t(j)),
       |qs AS (SELECT vec_id AS query_id, j, sv AS qv FROM s
       |  WHERE vec_id < 12),
       |ccen AS MATERIALIZED (SELECT vec_id AS cel_id, d AS cele
       |  FROM e ORDER BY vec_id LIMIT 8),
       |ca0 AS (SELECT em.vec_id AS id, cel_id,
       |    round(list_dot_product(em.d, cele) /
       |      (sqrt(list_dot_product(em.d, em.d)) *
       |       sqrt(list_dot_product(cele, cele))), 6) AS csim
       |  FROM em, ccen),
       |ca1 AS (SELECT *, row_number() OVER (PARTITION BY id
       |    ORDER BY csim DESC, cel_id) AS r FROM ca0),
       |cellof AS MATERIALIZED (SELECT id, cel_id AS cell
       |  FROM ca1 WHERE r = 1),
       |qp1 AS (SELECT *, row_number() OVER (PARTITION BY id
       |    ORDER BY csim DESC, cel_id) AS r FROM ca0
       |  WHERE id < 12),
       |probes AS (SELECT id AS query_id, cel_id AS cell
       |  FROM qp1 WHERE r <= 2),
       |pcen AS MATERIALIZED (SELECT j, s0.vec_id AS cen_id,
       |    sv AS cv FROM s0
       |  WHERE s0.vec_id IN (SELECT vec_id FROM e
       |    ORDER BY vec_id LIMIT 16)),
       |pa0 AS (SELECT s.vec_id AS id, s.j, cen_id,
       |    round(list_dot_product(sv, sv)
       |      - 2 * list_dot_product(sv, cv)
       |      + list_dot_product(cv, cv), 6) AS dist2
       |  FROM s JOIN pcen ON s.j = pcen.j),
       |pa1 AS (SELECT *, row_number() OVER (PARTITION BY id, j
       |    ORDER BY dist2, cen_id) AS r FROM pa0),
       |codes AS MATERIALIZED (SELECT id, j, cen_id AS code
       |  FROM pa1 WHERE r = 1),
       |tbl AS (SELECT query_id, qs.j, cen_id AS code,
       |    CAST(round(list_dot_product(qv, qv)
       |      - 2 * list_dot_product(qv, cv)
       |      + list_dot_product(cv, cv), 6)
       |      AS DECIMAL(20,6)) AS d2
       |  FROM qs JOIN pcen ON qs.j = pcen.j),
       |sums AS (SELECT pr.query_id, c.id AS neighbor_id,
       |    CAST(SUM(d2) AS DOUBLE) AS adist
       |  FROM codes c
       |  JOIN cellof co ON c.id = co.id
       |  JOIN probes pr ON pr.cell = co.cell
       |  JOIN tbl t ON t.query_id = pr.query_id
       |    AND t.j = c.j AND t.code = c.code
       |  WHERE pr.query_id != c.id
       |  GROUP BY pr.query_id, c.id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adist, neighbor_id) AS rank FROM sums)
       |SELECT query_id, neighbor_id, adist,
       |  CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Oracle CTEs of the seeded PQ codebook: `e(vec_id, d)`, the
    * 8 × 8-dim subvectors `s(vec_id, j, sv)` and the 16 lowest-id
    * seeds of each subspace, `cen(j, cen_id, cv)`. */
  private[queries] val oPqSeeds: String =
    """e AS (SELECT vec_id,
      |    CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
      |s AS (SELECT vec_id, t.j, d[t.j*8+1 : t.j*8+8] AS sv
      |  FROM e, range(0, 8) t(j)),
      |cen AS (SELECT j, s.vec_id AS cen_id, sv AS cv FROM s
      |  WHERE s.vec_id IN (SELECT vec_id FROM e
      |    ORDER BY vec_id LIMIT 16))""".stripMargin

  /** Oracle CTEs `<out>0`/`<out>1`: every subvector's rounded squared
    * distance to every centroid of the codebook `cen`, ranked (r = 1 is
    * its code); `carry` adds columns of `s`. */
  private[queries] def oPqNearest(out: String, cen: String,
      carry: String = ""): String =
    s"""${out}0 AS (SELECT s.vec_id AS id, s.j, ${carry}cen_id,
       |    round(list_dot_product(sv, sv)
       |      - 2 * list_dot_product(sv, cv)
       |      + list_dot_product(cv, cv), 6) AS dist2
       |  FROM s JOIN $cen ON s.j = $cen.j),
       |${out}1 AS (SELECT *, row_number() OVER (PARTITION BY id, j
       |    ORDER BY dist2, cen_id) AS r FROM ${out}0)""".stripMargin

  /** Oracle: the PQ top 5 of the queries vec_id < 20 by the DECIMAL
    * ADC sums of the codes `c(id, j, code)` over the codebook `cen`. */
  private[queries] def oPqAdcTop5(cen: String): String =
    s"""qs AS (SELECT vec_id AS query_id, j, sv AS qv FROM s
       |  WHERE vec_id < 20),
       |tbl AS (SELECT query_id, qs.j, cen_id AS code,
       |    CAST(round(list_dot_product(qv, qv)
       |      - 2 * list_dot_product(qv, cv)
       |      + list_dot_product(cv, cv), 6)
       |      AS DECIMAL(20,6)) AS d2
       |  FROM qs JOIN $cen ON qs.j = $cen.j),
       |sums AS (SELECT query_id, c.id AS neighbor_id,
       |    CAST(SUM(d2) AS DOUBLE) AS adist
       |  FROM c JOIN tbl ON c.j = tbl.j AND c.code = tbl.code
       |  WHERE query_id != c.id GROUP BY query_id, c.id),
       |$oAdcTop5""".stripMargin

  /** Oracle after `pm(left_id, right_id, sim_micro)`: each left item's
    * top-1 right item and its margin — the micro similarity minus the
    * average of both items' top-3 mean similarities, in exact
    * integers. */
  private[queries] val oMarginTop3: String =
    """ln0 AS (SELECT *, row_number() OVER (
       |    PARTITION BY left_id
       |    ORDER BY sim_micro DESC, right_id) AS rk FROM pm),
       |ln AS (SELECT left_id, SUM(sim_micro) AS sum_l,
       |    COUNT(*) AS k_l FROM ln0 WHERE rk <= 3 GROUP BY 1),
       |ltop AS (SELECT left_id, right_id, sim_micro FROM ln0
       |  WHERE rk = 1),
       |rn0 AS (SELECT *, row_number() OVER (
       |    PARTITION BY right_id
       |    ORDER BY sim_micro DESC, left_id) AS rk FROM pm),
       |rn AS (SELECT right_id, SUM(sim_micro) AS sum_r,
       |    COUNT(*) AS k_r FROM rn0 WHERE rk <= 3 GROUP BY 1)
       |SELECT ltop.left_id, ltop.right_id, ltop.sim_micro,
       |  CAST(ltop.sim_micro - (CASE
       |    WHEN sum_l * k_r + sum_r * k_l < 0
       |    THEN -(abs(sum_l * k_r + sum_r * k_l)
       |      // (k_l * k_r * 2))
       |    ELSE (sum_l * k_r + sum_r * k_l)
       |      // (k_l * k_r * 2) END) AS BIGINT) AS margin_micro
       |FROM ltop JOIN ln USING (left_id)
       |JOIN rn USING (right_id)
       |ORDER BY ltop.left_id""".stripMargin

  // ---- media: the image round-trip rows

  /** The media rows' payload: the constructed `blob`, except on
    * doc_id%7=6, which carries the document's raw text bytes — no
    * valid container, so every decoder must return all-null. */
  private[queries] def blobOrText(blob: Column): Column =
    when(col("doc_id") % 7 === 6,
        graft.operators.Multimodal.syntheticPayload(col("text")))
      .otherwise(blob)

  /** The documents' (doc_id, text), rebalanced: the media rows' input —
    * their codec kernels dominate the round-robin exchange. */
  private[queries] def mediaDocs(s: SparkSession, dir: String): DataFrame =
    graft.Tables.rebalance(t("documents")(s, dir)
      .select(col("doc_id"), col("text")))

  /** The decoded-image stats struct's fields that the media rows
    * report, in order. */
  private[queries] val imageStats: Seq[String] = Seq("width", "height",
    "channels", "n_pixels", "sum_c0", "sum_c1", "sum_c2", "sum_luma_milli")

  /** `docs` with the struct `stats` decoded per row, projected to
    * doc_id and the struct's `fields`, ordered by doc_id. */
  private[queries] def statsRows(docs: DataFrame, stats: Column,
      fields: Seq[String] = imageStats): DataFrame =
    docs.withColumn("st", stats)
      .select(col("doc_id") +: fields.map(f => col(s"st.$f")): _*)
      .orderBy(col("doc_id"))

  /** The JPEG salvage rows: encode `jpg` per document (bound to its
    * own projection — the rot references the blob four times, and
    * without the binding each reference re-runs the encoder), rot the
    * two bytes before EOI into an invalid marker (always inside the
    * last restart segment's entropy data), and decode through
    * `jpegStatsSalvage`. */
  private[queries] def jpegSalvageRows(s: SparkSession, dir: String,
      jpg: Column, fields: Seq[String]): DataFrame = {
    val damaged = concat(
      substring(col("jpg"), lit(1), length(col("jpg")) - 4),
      lit(Array(0xFF.toByte, 0xC0.toByte)),
      substring(col("jpg"), length(col("jpg")) - 1, lit(2)))
    statsRows(
      mediaDocs(s, dir).select(col("doc_id"), col("text"), jpg.as("jpg")),
      Jpeg.jpegStatsSalvage(blobOrText(damaged)), fields)
  }

  /** MCU-constant RGB pixels for the subsampled JPEG rows: each
    * 16 × `mcuH` MCU of the `w` × `h` image is one value per channel
    * k, `(doc_id·a + (my·mw + mx)·b + k·c) % 256`. Built as each row's
    * (w/16) 16-fold repeats of a 6-hex-char RGB triple — h·(w/16) hex
    * computations per doc instead of w·h·3 (an 18 s → ~2 s
    * construction win at sf0.1; the decode under test is unchanged). */
  private[queries] def mcuConstPixels(w: Column, h: Column, mcuH: Int,
      a: Int, b: Int, c: Int): Column = {
    def mcuVal(mx: Column, my: Column, mw: Column, k: Column) =
      (col("doc_id") * a + (my * mw + mx) * b + k * c) % 256
    def hx(v: Column) = lpad(hex(v), 2, "0")
    val mw = Round14.idiv(w, lit(16))
    unhex(array_join(
      transform(sequence(lit(0L), h - 1), y => {
        val my = Round14.idiv(y, lit(mcuH))
        array_join(
          transform(sequence(lit(0L), mw - 1), mx =>
            repeat(concat(hx(mcuVal(mx, my, mw, lit(0))),
              hx(mcuVal(mx, my, mw, lit(1))),
              hx(mcuVal(mx, my, mw, lit(2)))), 16)), "")
      }), ""))
  }

  /** Oracle: the all-null rows of the non-image payloads (doc_id%7=6),
    * `nulls` ≥ 8 columns after doc_id, then the final order. */
  private[queries] def oNullTail(nulls: Int): String =
    s"""UNION ALL
       |SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
       |  ${Seq.fill(nulls - 7)("NULL").mkString(", ")}
       |FROM documents WHERE doc_id % 7 = 6
       |ORDER BY doc_id""".stripMargin

  /** Oracle of the block-constant baseline/progressive JPEG rows: an
    * 8×8-block grid of `w` × `h` (SQL over doc_id), grayscale on even
    * docs and YCbCr 4:4:4 on odd, each block one value `v(k)` per
    * channel k (SQL over doc_id, bx, by, w) — DC-only, so every block
    * goes through the closed-form DC pipeline. `nblk` adds a block
    * count to the sums; `salvage` reports `corrupt_mcus` = 1. */
  private[queries] def oBlockJpeg(w: String, h: String, v: Int => String,
      nblk: Boolean = false, salvage: Boolean = false): String = {
    import Round14.{oDcPipe, oRgbY, oRgbCb, oRgbCr, oYcc2R, oYcc2G, oYcc2B}
    val gOut = oDcPipe(v(0), 16)
    val (yc, cb, cr) = (oRgbY(v(0), v(1), v(2)),
      oRgbCb(v(0), v(1), v(2)), oRgbCr(v(0), v(1), v(2)))
    s"""WITH d AS (SELECT doc_id, $w AS w,
       |    $h AS h,
       |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
       |  FROM documents WHERE doc_id % 7 <> 6),
       |bx0 AS (SELECT doc_id, w, h, ch,
       |    unnest(generate_series(0, w // 8 - 1)) AS bx FROM d),
       |blk AS (SELECT doc_id, w, h, ch, bx,
       |    unnest(generate_series(0, h // 8 - 1)) AS by FROM bx0),
       |dcy AS (SELECT doc_id, w, h, ch, bx, by,
       |    ${oDcPipe(yc, 16)} AS yq,
       |    ${oDcPipe(cb, 17)} AS cbq,
       |    ${oDcPipe(cr, 17)} AS crq,
       |    $gOut AS gq
       |  FROM blk),
       |outs AS (SELECT doc_id, ch,
       |    CASE WHEN ch = 1 THEN gq
       |      ELSE ${oYcc2R("yq", "crq")} END AS o0,
       |    CASE WHEN ch = 1 THEN NULL
       |      ELSE ${oYcc2G("yq", "cbq", "crq")} END AS o1,
       |    CASE WHEN ch = 1 THEN NULL
       |      ELSE ${oYcc2B("yq", "cbq")} END AS o2
       |  FROM dcy),
       |a AS (SELECT doc_id, MAX(ch) AS ch,
       |    64 * SUM(o0) AS s0, 64 * SUM(o1) AS s1,
       |    64 * SUM(o2) AS s2${if (nblk) ", COUNT(*) AS nblk" else ""}
       |  FROM outs GROUP BY 1)
       |SELECT a.doc_id, CAST(d.w AS BIGINT) AS width,
       |  CAST(d.h AS BIGINT) AS height,
       |  CAST(a.ch AS BIGINT) AS channels,
       |  CAST(d.w * d.h AS BIGINT) AS n_pixels,
       |  CAST(s0 AS BIGINT) AS sum_c0,
       |  CAST(s1 AS BIGINT) AS sum_c1,
       |  CAST(s2 AS BIGINT) AS sum_c2,
       |  CAST(CASE WHEN a.ch = 1 THEN 1000 * s0
       |    ELSE 299 * s0 + 587 * s1 + 114 * s2 END AS BIGINT)
       |    AS sum_luma_milli${if (salvage) ",\n  CAST(1 AS BIGINT) AS corrupt_mcus" else ""}
       |FROM a JOIN d USING (doc_id)
       |${oNullTail(if (salvage) 9 else 8)}""".stripMargin
  }

  /** Oracle of the MCU-constant subsampled JPEG rows: a grid of
    * 16 × `mcuH` MCUs over `w` × `h` (SQL over doc_id), each MCU one
    * RGB value `v(k)` per channel k (SQL over doc_id, mx, my, w) —
    * DC-only in all three components, so Y, Cb and Cr each go through
    * the closed-form DC pipeline and the upsample of a constant is the
    * constant. */
  private[queries] def oMcuJpeg(w: String, h: String, mcuH: Int,
      v: Int => String): String = {
    import Round14.{oDcPipe, oRgbY, oRgbCb, oRgbCr, oYcc2R, oYcc2G, oYcc2B}
    val (yc, cb, cr) = (oRgbY(v(0), v(1), v(2)),
      oRgbCb(v(0), v(1), v(2)), oRgbCr(v(0), v(1), v(2)))
    val px = 16 * mcuH
    s"""WITH d AS (SELECT doc_id, $w AS w,
       |    $h AS h
       |  FROM documents WHERE doc_id % 7 <> 6),
       |mx0 AS (SELECT doc_id, w, h,
       |    unnest(generate_series(0, w // 16 - 1)) AS mx FROM d),
       |mcu AS (SELECT doc_id, w, h, mx,
       |    unnest(generate_series(0, h // $mcuH - 1)) AS my FROM mx0),
       |dcy AS (SELECT doc_id, w, h, mx, my,
       |    ${oDcPipe(yc, 16)} AS yq,
       |    ${oDcPipe(cb, 17)} AS cbq,
       |    ${oDcPipe(cr, 17)} AS crq
       |  FROM mcu),
       |outs AS (SELECT doc_id,
       |    ${oYcc2R("yq", "crq")} AS o0,
       |    ${oYcc2G("yq", "cbq", "crq")} AS o1,
       |    ${oYcc2B("yq", "cbq")} AS o2
       |  FROM dcy),
       |a AS (SELECT doc_id, $px * SUM(o0) AS s0,
       |    $px * SUM(o1) AS s1, $px * SUM(o2) AS s2
       |  FROM outs GROUP BY 1)
       |SELECT a.doc_id, CAST(d.w AS BIGINT) AS width,
       |  CAST(d.h AS BIGINT) AS height,
       |  CAST(3 AS BIGINT) AS channels,
       |  CAST(d.w * d.h AS BIGINT) AS n_pixels,
       |  CAST(s0 AS BIGINT) AS sum_c0,
       |  CAST(s1 AS BIGINT) AS sum_c1,
       |  CAST(s2 AS BIGINT) AS sum_c2,
       |  CAST(299 * s0 + 587 * s1 + 114 * s2 AS BIGINT)
       |    AS sum_luma_milli
       |FROM a JOIN d USING (doc_id)
       |${oNullTail(8)}""".stripMargin
  }
}
