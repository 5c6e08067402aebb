package graft.queries

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Round-11 continuation 2 (q259-q262): the cross-corpus bitext-mining
  * family (mutual-NN BETWEEN corpora, margin-based mining scores — the
  * LASER/CCMatrix criterion) plus the ranked-shingle artifact's
  * persistence round-trip and the LSH-candidate arm of bounded
  * mutual-NN, each oracle-gated.
  */
object Round11c {
  /** DuckDB rounded-cosine expression over DOUBLE[] columns. */
  private def oCos(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / " +
      s"(sqrt(list_dot_product($a, $a)) * " +
      s"sqrt(list_dot_product($b, $b))), 6)"

  /** The even/odd corpus split CTEs + all-pairs sims (`p`). */
  private val oCross: String =
    s"""l AS (SELECT vec_id AS left_id,
       |    CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |  WHERE vec_id % 2 = 0),
       |r AS (SELECT vec_id AS right_id,
       |    CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |  WHERE vec_id % 2 = 1),
       |p AS (SELECT left_id, right_id,
       |    ${oCos("l.e", "r.e")} AS sim FROM l, r)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- ranked-shingle artifact persistence round-trip: WRITE the
    // q244 artifact to parquet, read it back, and run the q66
    // consumer from the persisted frame — the build-once/consume-many
    // deployment shape at 100 TB (separate artifact and consumer
    // jobs; the q95 pattern applied to the PPJoin family). Same
    // oracle as q66: the round-trip must be bit-identical (longs/ints
    // survive parquet exactly), so any schema/value drift in the
    // persisted artifact hash-fails here.
    QueryDef("q259_ranked_persist",
      (s, dir) => {
        val outDir = scratchDir(dir, "q259_ranked")
        Dedup.rankedShingleRows(t("documents")(s, dir),
            "doc_id", "text", n = 3)
          .write.mode("overwrite").parquet(outDir.getAbsolutePath)
        val ranked = s.read.parquet(outDir.getAbsolutePath)
        Dedup.jaccardPairsPrefix(t("documents")(s, dir),
            "doc_id", "text", n = 3, threshold = 0.5,
            ranked = Some(ranked))
          .orderBy(col("da"), col("db"))
      },
      Some(oJaccardPairs)),

    // ---- cross-corpus mutual nearest neighbors: the ACTUAL bitext-
    // mining deployment shape (pairs BETWEEN a source and a target
    // corpus — here the even/odd halves of the embeddings table);
    // both top-1s are map-side argmax aggregations over the
    // broadcast-generated pair stream, the reciprocal join runs on
    // the two per-side top-1 frames.
    QueryDef("q260_mutual_nn_between",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        Similarity.mutualNearestNeighborsBetween(
          emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1))
      },
      Some(s"""WITH $oCross,
              |lt0 AS (SELECT *, row_number() OVER (
              |    PARTITION BY left_id
              |    ORDER BY sim DESC, right_id) AS rk FROM p),
              |lt AS (SELECT left_id, right_id, sim FROM lt0
              |  WHERE rk = 1),
              |rt0 AS (SELECT *, row_number() OVER (
              |    PARTITION BY right_id
              |    ORDER BY sim DESC, left_id) AS rk FROM p),
              |rt AS (SELECT left_id, right_id FROM rt0 WHERE rk = 1)
              |SELECT lt.left_id, lt.right_id, lt.sim
              |FROM lt JOIN rt ON lt.left_id = rt.left_id
              |  AND lt.right_id = rt.right_id
              |ORDER BY lt.left_id""".stripMargin)),

    // ---- margin-based mining scores (Artetxe & Schwenk 2019): each
    // left vector's top-1 pair with its ABSOLUTE margin — top-1 sim
    // minus the mean of both sides' k-NN similarity averages — in
    // exact integer micro-cosine (sign-split truncating division, so
    // Spark `div` and DuckDB `//` agree on negative neighborhood
    // sums). The hubness correction of CCMatrix, hash-gated exactly.
    QueryDef("q261_margin_mining",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        Similarity.marginMiningScores(
          emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1), k = 3)
      },
      Some(s"""WITH $oCross,
              |pm AS (SELECT left_id, right_id,
              |    CAST(CAST(sim AS DECIMAL(10,6)) * 1000000 AS BIGINT)
              |      AS sim_micro FROM p),
              |$oMarginTop3""".stripMargin)),

    // ---- Gopher quality rules (Rae et al. 2021): the canonical
    // public document-filter set as exact-integer metrics + rule
    // flags + keep verdict — every threshold cross-multiplied (mean
    // word length ∈ [3,10] ⇒ 3n ≤ chars ≤ 10n), so the verdicts hash
    // exactly. Map-side; the 100 TB cost is the scan.
    QueryDef("q263_gopher_rules",
      (s, dir) => graft.operators.Curation.gopherQualityFlags(
          t("documents")(s, dir), "text", "doc_id", minWords = 20)
        .orderBy(col("doc_id")),
      Some("""WITH w AS (SELECT doc_id, text, list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0) AS ws FROM documents),
             |m AS (SELECT doc_id,
             |    CAST(len(ws) AS BIGINT) AS n_words,
             |    CAST(COALESCE(list_sum(list_transform(ws,
             |      x -> len(x))), 0) AS BIGINT) AS n_word_chars,
             |    CAST(len(text) - len(regexp_replace(text,
             |      '#|\.\.\.|…', '', 'g')) AS BIGINT)
             |      AS n_symbol_chars,
             |    CAST(len(list_filter(ws, x -> regexp_matches(x,
             |      '[a-zA-Z]'))) AS BIGINT) AS n_alpha_words,
             |    CAST(len(list_filter(ws, x -> list_contains(
             |      ['the', 'of', 'and', 'a', 'to', 'in', 'is'], x)))
             |      AS BIGINT) AS n_stopword_hits
             |  FROM w)
             |SELECT doc_id, n_words, n_word_chars, n_symbol_chars,
             |  n_alpha_words, n_stopword_hits,
             |  n_words >= 20 AND n_words <= 100000 AS f_word_count,
             |  n_word_chars >= n_words * 3
             |    AND n_word_chars <= n_words * 10 AS f_mean_word_len,
             |  n_symbol_chars * 10 <= n_words AS f_symbol_ratio,
             |  n_alpha_words * 10 >= n_words * 8 AS f_alpha_words,
             |  n_stopword_hits >= 2 AS f_stopwords,
             |  (n_words >= 20 AND n_words <= 100000)
             |    AND (n_word_chars >= n_words * 3
             |      AND n_word_chars <= n_words * 10)
             |    AND n_symbol_chars * 10 <= n_words
             |    AND n_alpha_words * 10 >= n_words * 8
             |    AND n_stopword_hits >= 2 AS keep
             |FROM m ORDER BY doc_id""".stripMargin)),

    // ---- C4 cleaning rules (Raffel et al. 2020 §2.2): terminal
    // punctuation, sentence/word minimums, code-smell brace, lorem
    // ipsum — sentence counting via the engine-identical character
    // count of [.!?] (no tokenizer to disagree on). Map-side. The
    // synthetic corpus carries no punctuation at all, so the input is
    // DECORATED per doc-id branch (the q97 construct-the-input
    // discipline, identically in both engines) to make every rule
    // fire: %4=0 passes all, %4=1 trips the brace, %4=2 trips lorem
    // ipsum, %4=3 (raw text) trips punctuation+sentences.
    QueryDef("q264_c4_rules",
      (s, dir) => {
        val deco = when(col("doc_id") % 4 === 0,
            concat(col("text"), lit(". End. Ok.")))
          .when(col("doc_id") % 4 === 1,
            concat(col("text"), lit(" has { brace. One. Two.")))
          .when(col("doc_id") % 4 === 2,
            concat(col("text"), lit(" Lorem Ipsum filler. Really! Sure?")))
          .otherwise(col("text"))
        graft.operators.Curation.c4QualityFlags(
            t("documents")(s, dir)
              .select(col("doc_id"), deco.as("text")),
            "text", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, CASE
             |    WHEN doc_id % 4 = 0 THEN text || '. End. Ok.'
             |    WHEN doc_id % 4 = 1 THEN text || ' has { brace. One. Two.'
             |    WHEN doc_id % 4 = 2 THEN text || ' Lorem Ipsum filler. Really! Sure?'
             |    ELSE text END AS text FROM documents),
             |m AS (SELECT doc_id,
             |    CAST(len(list_filter(string_split_regex(lower(text),
             |      '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_words,
             |    CAST(len(regexp_replace(text, '[^.!?]', '', 'g'))
             |      AS BIGINT) AS n_sentence_ends,
             |    regexp_matches(rtrim(text), '[.!?"'']$')
             |      AS f_ends_punct,
             |    NOT contains(text, '{') AS f_no_brace,
             |    NOT contains(lower(text), 'lorem ipsum')
             |      AS f_no_lorem
             |  FROM d)
             |SELECT doc_id, n_words, n_sentence_ends, f_ends_punct,
             |  f_no_brace, f_no_lorem,
             |  n_sentence_ends >= 3 AS f_sentences,
             |  n_words >= 5 AS f_words,
             |  f_ends_punct AND f_no_brace AND f_no_lorem
             |    AND n_sentence_ends >= 3 AND n_words >= 5 AS keep
             |FROM m ORDER BY doc_id""".stripMargin)),

    // ---- KMV (bottom-k) distinct sketch: the second mergeable
    // distinct sketch next to HLL — k smallest distinct key hashes
    // per group (bounded k-long buffer, global dedup free in the
    // buffer), the Beyer et al. 2007 estimator in exact
    // DECIMAL(38,0)/HUGEINT integer division; exact distinct rides
    // along as the audit column. Keyed on l_partkey per return flag
    // (~2000 distinct per group, so the k=64 sketches SATURATE and
    // the estimator branch is the one under the oracle — the
    // synthetic documents' 31-word vocabulary would leave it
    // untested). Sketch emitted comma-joined (the q41 convention).
    QueryDef("q265_kmv_distinct",
      (s, dir) => {
        val li = t("lineitem")(s, dir)
          .select(col("l_returnflag"),
            col("l_partkey").cast("string").as("k"))
        val sk = graft.operators.Cardinality.kmvSketchBy(
          li, Seq("l_returnflag"), "k", k = 64)
        val exact = li.groupBy(col("l_returnflag"))
          .agg(countDistinct(col("k")).as("n_exact"))
        graft.operators.Cardinality.kmvEstimated(sk, "sketch", 64)
          .join(exact, Seq("l_returnflag"))
          .select(col("l_returnflag"),
            concat_ws(",", transform(col("sketch"),
              v => v.cast("string"))).as("sketch"),
            col("est_kmv"), col("n_exact"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""WITH h AS (SELECT DISTINCT l_returnflag,
              |    ${CorpusOps.oH60("'kmv|' || CAST(l_partkey AS VARCHAR)")}
              |      AS h FROM lineitem),
              |r AS (SELECT l_returnflag, h, row_number() OVER (
              |    PARTITION BY l_returnflag ORDER BY h) AS rk FROM h),
              |sk AS (SELECT l_returnflag,
              |    list(h ORDER BY h) AS sketch,
              |    COUNT(*) AS n_in FROM r WHERE rk <= 64 GROUP BY 1),
              |ex AS (SELECT l_returnflag,
              |    COUNT(DISTINCT l_partkey) AS n_exact
              |  FROM lineitem GROUP BY 1)
              |SELECT sk.l_returnflag,
              |  array_to_string(sketch, ',') AS sketch,
              |  CASE WHEN n_in < 64 THEN n_in
              |    ELSE CAST(CAST(63 AS HUGEINT) *
              |      1152921504606846976 // (sketch[64] + 1) AS BIGINT)
              |    END AS est_kmv,
              |  n_exact
              |FROM sk JOIN ex ON sk.l_returnflag = ex.l_returnflag
              |ORDER BY sk.l_returnflag""".stripMargin)),

    // ---- KMV set operations: union / Jaccard / intersection
    // estimates between the 1995-buyer and 1996-buyer customer sets
    // FROM THE SKETCHES ALONE — the screen HLL registers structurally
    // cannot give (no noisy inclusion-exclusion: the union sketch's
    // values are membership-tested exactly against both input
    // sketches). Customers order sparsely across years, so the two
    // sets overlap PARTIALLY (non-degenerate Jaccard, unlike
    // every-part-in-both-halves splits); both sides saturate k=64;
    // exact counts ride along.
    QueryDef("q266_kmv_setops",
      (s, dir) => {
        val ord = t("orders")(s, dir)
          .select(year(col("o_orderdate")).as("yr"),
            col("o_custkey").cast("string").as("k"))
        def half(yr: Int, as: String) =
          graft.operators.Cardinality.kmvSketchBy(
              ord.where(col("yr") === yr)
                .select(lit(1).as("g"), col("k")),
              Seq("g"), "k", k = 64)
            .select(col("sketch").as(as))
        val wa = ord.where(col("yr") === 1995)
          .select(col("k")).distinct()
        val wb = ord.where(col("yr") === 1996)
          .select(col("k")).distinct()
        val exact = wa.agg(count(lit(1)).as("n_a_exact"))
          .crossJoin(wb.agg(count(lit(1)).as("n_b_exact")))
          .crossJoin(wa.join(wb, Seq("k"), "left_semi")
            .agg(count(lit(1)).as("n_inter_exact")))
        graft.operators.Cardinality.kmvSetOps(
            half(1995, "a_sk").crossJoin(half(1996, "b_sk")),
            "a_sk", "b_sk", k = 64)
          .crossJoin(broadcast(exact))
          .select(col("est_a"), col("est_b"), col("est_union"),
            col("est_jaccard_ppm"), col("est_intersection"),
            col("n_a_exact"), col("n_b_exact"), col("n_inter_exact"))
      },
      Some(s"""WITH w AS (SELECT DISTINCT
              |    EXTRACT(year FROM o_orderdate) AS half,
              |    CAST(o_custkey AS VARCHAR) AS k FROM orders
              |  WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996)),
              |h AS (SELECT DISTINCT half,
              |    ${CorpusOps.oH60("'kmv|' || k")} AS h FROM w),
              |r AS (SELECT half, h, row_number() OVER (
              |    PARTITION BY half ORDER BY h) AS rk FROM h),
              |ska AS (SELECT list(h ORDER BY h) AS a FROM r
              |  WHERE half = 1995 AND rk <= 64),
              |skb AS (SELECT list(h ORDER BY h) AS b FROM r
              |  WHERE half = 1996 AND rk <= 64),
              |u AS (SELECT a, b, (list_sort(list_distinct(a || b)))
              |    [1:64] AS un FROM ska, skb),
              |kc AS (SELECT a, b, un, len(list_filter(un,
              |    v -> list_contains(a, v) AND list_contains(b, v)))
              |    AS n_both FROM u),
              |est AS (SELECT
              |    CASE WHEN len(a) < 64 THEN len(a)
              |      ELSE CAST(CAST(63 AS HUGEINT) *
              |        1152921504606846976 // (a[64] + 1) AS BIGINT)
              |      END AS est_a,
              |    CASE WHEN len(b) < 64 THEN len(b)
              |      ELSE CAST(CAST(63 AS HUGEINT) *
              |        1152921504606846976 // (b[64] + 1) AS BIGINT)
              |      END AS est_b,
              |    CASE WHEN len(un) < 64 THEN len(un)
              |      ELSE CAST(CAST(63 AS HUGEINT) *
              |        1152921504606846976 // (un[64] + 1) AS BIGINT)
              |      END AS est_union,
              |    CAST(n_both AS BIGINT) * 1000000
              |      // greatest(len(un), 1) AS est_jaccard_ppm
              |  FROM kc),
              |ex AS (SELECT
              |    (SELECT COUNT(DISTINCT k) FROM w WHERE half = 1995)
              |      AS n_a_exact,
              |    (SELECT COUNT(DISTINCT k) FROM w WHERE half = 1996)
              |      AS n_b_exact,
              |    (SELECT COUNT(*) FROM
              |      (SELECT DISTINCT k FROM w WHERE half = 1995
              |       INTERSECT
              |       SELECT DISTINCT k FROM w WHERE half = 1996))
              |      AS n_inter_exact)
              |SELECT est_a, est_b, est_union,
              |  CAST(est_jaccard_ppm AS BIGINT) AS est_jaccard_ppm,
              |  CAST(CAST(est_jaccard_ppm AS HUGEINT) * est_union
              |    // 1000000 AS BIGINT) AS est_intersection,
              |  n_a_exact, n_b_exact, n_inter_exact
              |FROM est, ex""".stripMargin)),

    // ---- LSH-candidate arm of bounded mutual-NN: candidate pairs
    // from shared sign-LSH buckets (the q29 family, 6 tables × 4
    // planes — generation is `tables` equi-joins, never all-pairs),
    // then the generic mutualNearestNeighborsFromCandidates
    // reciprocal filter. With q245 (IVF cells) this makes BOTH
    // bounded candidate generators oracle-gated.
    QueryDef("q262_mutual_nn_lsh",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        val cand = Similarity.lshNearDupPairs(emb, threshold = -1.0,
            tables = 6, planesPerTable = 4, dims = 64)
          .select(col("da"), col("db"))
        Similarity.mutualNearestNeighborsFromCandidates(cand, emb)
      },
      Some {
        def bucket(tb: Int) = (0 until 4).map { j =>
          val signs = Similarity.planeSigns(tb * 4 + j, 64)
            .map(v => if (v > 0) "1.0" else "-1.0").mkString(", ")
          s"CASE WHEN list_dot_product(e, [$signs]) >= 0 " +
            s"THEN ${1L << j} ELSE 0 END"
        }.mkString(" + ")
        val tablesSel = (0 until 6).map(tb =>
          s"SELECT id, $tb AS t, ${bucket(tb)} AS bk FROM b")
          .mkString(" UNION ALL ")
        s"""WITH b AS (SELECT vec_id AS id,
           |    CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |bk AS ($tablesSel),
           |cand AS (SELECT DISTINCT a.id AS da, b.id AS db
           |  FROM bk a JOIN bk b ON a.t = b.t AND a.bk = b.bk
           |    AND a.id < b.id),
           |dir AS (SELECT da AS q, db AS n FROM cand
           |  UNION ALL SELECT db, da FROM cand),
           |sc AS (SELECT q, n, ${oCos("ea.e", "eb.e")} AS sim
           |  FROM dir JOIN b ea ON q = ea.id JOIN b eb ON n = eb.id),
           |t0 AS (SELECT *, row_number() OVER (PARTITION BY q
           |    ORDER BY sim DESC, n) AS rk FROM sc),
           |t1 AS (SELECT q, n, sim FROM t0 WHERE rk = 1)
           |SELECT x.q AS a, x.n AS b, x.sim
           |FROM t1 x JOIN t1 y ON x.q = y.n AND x.n = y.q
           |  AND x.q < x.n
           |ORDER BY a""".stripMargin
      }))
}
