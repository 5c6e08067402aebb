package graft.queries

import graft.operators.{Classifier, Similarity}
import org.apache.spark.sql.functions._

/** Round-9 additions: the shared Jaccard pair-set build as its own
  * timed, oracle-gated catalog row (the q95/q102 artifact treatment —
  * before this the ~2 s build hid in the first consumer's cold pass and
  * the bench headline never charged it, VERDICT r8 #3), and the
  * trained-cells RESIDUAL IVF-PQ search under the oracle (the
  * catalog's last seeded-only path, and the architecture PLANS.md
  * round 6 showed gains most from training).
  */
object Round9 {
  /** The 2-iteration logistic-regression training replay ending in
    * trained weights `w2(bucket, wm)` — shared verbatim by q107 (the
    * training row) and q108 (trained-weights serving), so training and
    * serving can never drift apart (the lloyd2Cte pattern).
    */
  private[queries] val logregCtes: String =
    """WITH w AS (SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS ws FROM documents),
      |f AS (SELECT doc_id, list_concat(ws,
      |    list_transform(generate_series(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i+1])) AS feats FROM w),
      |e AS (SELECT doc_id, unnest(feats) AS feat FROM f),
      |x AS (SELECT doc_id,
      |    CAST(concat('0x', substr(md5('cls|' || feat), 1, 15))
      |      AS BIGINT) % 64 AS bucket, COUNT(*) AS tf
      |  FROM e GROUP BY 1, 2),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM x),
      |y AS (SELECT doc_id,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |g1 AS (SELECT bucket,
      |    SUM((CAST(y.y AS DECIMAL(20,6)) - 0.5) * x.tf) AS g
      |  FROM x JOIN y USING (doc_id) GROUP BY bucket),
      |w1 AS (SELECT bucket,
      |    (CASE WHEN g < 0 THEN -1 ELSE 1 END) *
      |      ((CAST(abs(g) * 1000000 AS BIGINT) * 2 + n.n)
      |        // (n.n * 2)) AS wm
      |  FROM g1, n),
      |z2 AS (SELECT x.doc_id,
      |    SUM(w1.wm * x.tf) AS zm
      |  FROM x JOIN w1 USING (bucket) GROUP BY x.doc_id),
      |p2 AS (SELECT doc_id, CAST(round(
      |      1.0 / (1.0 + exp(-(CAST(zm AS DOUBLE) / 1000000))),
      |      6) AS DECIMAL(20,6)) AS p
      |  FROM z2),
      |r2 AS (SELECT p2.doc_id,
      |    CAST(y.y AS DECIMAL(20,6)) - p2.p AS r
      |  FROM p2 JOIN y USING (doc_id)),
      |g2 AS (SELECT x.bucket, SUM(r2.r * x.tf) AS g
      |  FROM x JOIN r2 USING (doc_id) GROUP BY x.bucket),
      |d2 AS (SELECT bucket,
      |    (CASE WHEN g < 0 THEN -1 ELSE 1 END) *
      |      ((CAST(abs(g) * 1000000 AS BIGINT) * 2 + n.n)
      |        // (n.n * 2)) AS dm
      |  FROM g2, n),
      |w2 AS (SELECT bucket, w1.wm + d2.dm AS wm
      |  FROM w1 JOIN d2 USING (bucket))""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- the shared pair-set ARTIFACT BUILD, charged exactly once:
    // rebuilds unconditionally (both bench passes pay the full build,
    // so Σ min(cold, steady) carries it) and registers the artifact
    // q25/q45/q46/q99 read. The result row is an aggregate fingerprint
    // of the pair frame — count plus exact integer sums and the
    // jaccard range — so any drift in the built artifact hash-fails
    // here. Oracle = q25's pair SQL, aggregated.
    QueryDef("q105_pairset_build",
      (s, dir) => CorpusOps.buildPairArtifact(s, dir)
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(sum(col("inter")), lit(0L)).cast("bigint")
            .as("sum_inter"),
          coalesce(sum(col("da")), lit(0L)).cast("bigint").as("sum_da"),
          coalesce(sum(col("db")), lit(0L)).cast("bigint").as("sum_db"),
          min(col("jaccard")).as("min_jaccard"),
          max(col("jaccard")).as("max_jaccard")),
      Some(s"""WITH ${CorpusOps.oShinglesSql},
              |hs AS (SELECT doc_id,
              |  CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h
              |  FROM sh),
              |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh
              |  GROUP BY doc_id),
              |p AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) AS inter
              |  FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |j AS (SELECT da, db, inter,
              |    inter / (x.n + y.n - inter) AS jaccard
              |  FROM p JOIN sz x ON da = x.doc_id
              |    JOIN sz y ON db = y.doc_id
              |  WHERE inter / (x.n + y.n - inter) >= 0.6)
              |SELECT COUNT(*) AS n_pairs,
              |  CAST(COALESCE(SUM(inter), 0) AS BIGINT) AS sum_inter,
              |  CAST(COALESCE(SUM(da), 0) AS BIGINT) AS sum_da,
              |  CAST(COALESCE(SUM(db), 0) AS BIGINT) AS sum_db,
              |  MIN(jaccard) AS min_jaccard,
              |  MAX(jaccard) AS max_jaccard
              |FROM j""".stripMargin)),

    // ---- TRAINED-cells residual IVF-PQ end-to-end under the oracle:
    // q101 closed the seeded-only gap for the global-codebook search;
    // this closes it for the RESIDUAL architecture — the one PLANS.md round 6
    // showed amplifies centroid quality most (recall@10 0.092 seeded
    // vs 0.162 trained). The oracle composes q91/q101's 2-iteration
    // Lloyd replay CTEs verbatim with q88's per-cell residual CTEs:
    // residuals, codebooks, codes, and per-cell ADC tables all derive
    // from the TRAINED cells, so training and residual search cannot
    // drift apart. q88 (seeded, acknowledged) remains as the A/B
    // baseline.
    QueryDef("q106_residual_trained",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        Similarity.ivfPqResidualTopK(emb.filter(col("vec_id") < 12), emb,
            k = 5, nCells = 8, nprobe = 2, dims = 64, m = 8,
            nCentroids = 16, trainIters = 2)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $oTrainedCells,
              |${oResidualSearch("c2n", "cen_id", "ce")}""".stripMargin)),

    // ---- hashed logistic-regression TRAINING under the oracle: the
    // catalog's first model-training operator on the text side (q104
    // is the inference half; q91/q101/q106 are the ANN-side training
    // precedent). Label = (lang = 'en'); 2 full-batch GD iterations at
    // lr 1 over the mean gradient from w = 0. Every step is exact:
    // integer-micro weights, BIGINT logits, the sigmoid is the only
    // transcendental (exact 0.500000 at w=0, so iteration 1 replays
    // without a special case), and the mean-gradient rounding is the
    // q74/q100 integer micro-unit rule. The oracle replays both
    // iterations CTE-by-CTE.
    QueryDef("q107_logreg_train",
      (s, dir) => Classifier.trainHashedLogistic(
          t("documents")(s, dir), "text", "doc_id",
          (col("lang") === "en").cast("int"), buckets = 64, iters = 2)
        .orderBy(col("bucket")),
      Some(Round9.logregCtes + """,
             |o AS (SELECT bucket, SUM(tf) AS n_tf FROM x
             |  GROUP BY bucket)
             |SELECT o.bucket, CAST(w2.wm AS BIGINT) AS w_micro,
             |  CAST(o.n_tf AS BIGINT) AS n_tf
             |FROM o JOIN w2 USING (bucket)
             |ORDER BY bucket""".stripMargin)),

    // ---- train → infer END-TO-END under one oracle: q107's trained
    // weights collected (64 longs — model-sized) and shipped back into
    // the fused inference kernel as a plan literal, scoring the whole
    // corpus shuffle-free. Any drift between training replay and
    // serving arithmetic hash-fails HERE — the classifier-side
    // counterpart of q101/q106's trained-cells search.
    QueryDef("q108_logreg_score",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val trained = Classifier.trainHashedLogistic(docs, "text",
            "doc_id", (col("lang") === "en").cast("int"),
            buckets = 64, iters = 2)
          .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
        val weights = Array.tabulate(64)(b => trained.getOrElse(b, 0L))
        Classifier.hashedLinearScoreWith(docs, "text", "doc_id",
            weights, seed = "cls", buckets = 64)
          .orderBy(col("doc_id"))
      },
      Some(Round9.logregCtes + """,
             |sc AS (SELECT x.doc_id, SUM(x.tf) AS n_feats,
             |    SUM(w2.wm * x.tf) AS zm
             |  FROM x JOIN w2 USING (bucket) GROUP BY x.doc_id)
             |SELECT d.doc_id,
             |  CAST(coalesce(sc.n_feats, 0) AS BIGINT) AS n_feats,
             |  CAST(coalesce(sc.zm, 0) AS BIGINT) AS z_micro,
             |  CASE WHEN sc.n_feats > 0
             |    THEN CAST(sc.zm AS DOUBLE) / (sc.n_feats * 1000000.0)
             |  END AS margin,
             |  CASE WHEN sc.n_feats > 0
             |    THEN CAST(sc.zm AS DOUBLE) / (sc.n_feats * 1000000.0)
             |      >= 0
             |  END AS keep
             |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ---- Johnson–Lindenstrauss sign-random projection 64-d → 16-d:
    // the distance-preserving cheap reduction run before LSH/
    // clustering when the index bounds dimensionality. Reuses the q29
    // hyperplane family, so the oracle inlines the identical ±1 sign
    // lists; scale 1/√16 = 0.25 is IEEE-exact. Purely map-side.
    QueryDef("q109_random_projection",
      (s, dir) => Similarity.randomProject(
          t("embeddings")(s, dir), outDims = 16, dims = 64)
        .orderBy(col("vec_id"), col("dim")),
      Some {
        val dimSel = (0 until 16).map { j =>
          val signs = Similarity.planeSigns(j, 64)
            .map(v => if (v > 0) "1.0" else "-1.0").mkString(", ")
          s"SELECT vec_id, $j AS dim, " +
            s"round(list_dot_product(e, [$signs]) / 4.0, 6) AS v FROM b"
        }.mkString(" UNION ALL ")
        s"""WITH b AS (SELECT vec_id,
           |    CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
           |SELECT vec_id, CAST(dim AS BIGINT) AS dim, v
           |FROM ($dimSel)
           |ORDER BY vec_id, dim""".stripMargin
      }),

    // ---- top principal component via POWER ITERATION under the
    // oracle: the decorrelation step before quantization (FAISS's
    // PCA/OPQ matrices). Unnormalized covariance (same eigenvectors,
    // one rounding boundary fewer), exact decimal matvecs, 2
    // iterations from the uniform 1/√64 start; only the per-iteration
    // normalization touches doubles. The oracle replays means,
    // covariance, and both iterations CTE-by-CTE.
    QueryDef("q110_pca_power",
      (s, dir) => Similarity.topPrincipalComponent(
          t("embeddings")(s, dir), dims = 64, iters = 2)
        .orderBy(col("dim")),
      Some(s"""WITH $pcaCtes
              |SELECT CAST(q AS BIGINT) AS dim, CAST(v AS DOUBLE) AS v
              |FROM v2 ORDER BY dim""".stripMargin)),

    // ---- projection onto the LEARNED component: the whitening/
    // reduction step using the trained transform (q109's learned
    // counterpart). Exact-decimal dot of the centered components with
    // the q110 eigenvector, rounded BEFORE the double cast. One oracle
    // CTE chain covers training AND projection, so the transform
    // cannot drift between the two rows.
    QueryDef("q111_pca_project",
      (s, dir) => Similarity.pcaProject(
          t("embeddings")(s, dir), dims = 64, iters = 2)
        .orderBy(col("vec_id")),
      Some(s"""WITH $pcaCtes,
              |proj AS (SELECT c.id,
              |    CAST(round(SUM(c.x * v2.v), 6) AS DOUBLE) AS proj
              |  FROM c JOIN v2 ON c.p = v2.q GROUP BY c.id)
              |SELECT id AS vec_id, proj FROM proj
              |ORDER BY vec_id""".stripMargin)),

    // ---- incremental index maintenance: build the IVF-PQ index from
    // the OLD corpus slice (vec_id % 5 != 0), APPEND the new batch
    // against the frozen cells/codebooks (FAISS add() — delta-sized
    // work, existing corpus untouched), search across both. The
    // oracle is q87's with ONLY the seed sources switched to the old
    // slice: cell assignment and codes for ALL vectors derive from
    // the frozen artifacts, exactly the append semantics.
    QueryDef("q112_ivfpq_append",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        val old = emb.filter(col("vec_id") % 5 =!= 0)
        val fresh = emb.filter(col("vec_id") % 5 === 0)
        val idx = Similarity.ivfPqIndex(old, nCells = 8, dims = 64,
            m = 8, nCentroids = 16)
          .append(fresh)
        Similarity.ivfPqSearch(emb.filter(col("vec_id") < 12), idx,
            k = 5, nprobe = 2)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH ${oSeededCells("WHERE vec_id % 5 != 0 ")},
              |${oIvfPqSearch(seedWhere = "WHERE vec_id % 5 != 0 ")}"""
        .stripMargin)),

    // ---- ORC round-trip (the q80 treatment for Spark's other native
    // columnar format): write documents as ORC, read through
    // Sources.orc with the schema as a consistency check, filter +
    // project. Hash-gated against the pre-roundtrip parquet — any
    // write/read type or value drift fails here.
    QueryDef("q113_orc_roundtrip",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val outDir = scratchDir(dir, "q113_orc")
        val out = outDir.getAbsolutePath
        docs.write.mode("overwrite").orc(out)
        graft.sources.Sources.orc(s, out, Some(docs.schema))
          .filter(col("lang") =!= "en")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents
             |WHERE lang != 'en' ORDER BY doc_id""".stripMargin)),

    // ---- top-2 principal components via SPECTRAL DEFLATION: after
    // the dominant component converges, C ← C − λvvᵀ (λ = the final
    // matvec norm, rounded to 6 in SQL on both engines; each rank-1
    // term rounds in two exact-decimal steps) and the power iteration
    // re-runs on the deflated matrix. The oracle replays covariance,
    // both components' iterations, and the deflation arithmetic.
    QueryDef("q114_pca_deflate",
      (s, dir) => Similarity.principalComponents(
          t("embeddings")(s, dir), dims = 64, iters = 2,
          nComponents = 2)
        .orderBy(col("component"), col("dim")),
      Some(s"""WITH $pcaCtes,
              |l1 AS (SELECT CAST(round(nrm, 6) AS DECIMAL(18,6)) AS l
              |  FROM n2),
              |cov2 AS (SELECT cov.p, cov.q,
              |    CAST(cov.cv - CAST(round(
              |      CAST(round(l1.l * a.v, 6) AS DECIMAL(18,6)) * b.v,
              |      6) AS DECIMAL(18,6)) AS DECIMAL(18,6)) AS cv
              |  FROM cov JOIN v2 a ON cov.p = a.q
              |    JOIN v2 b ON cov.q = b.q, l1),
              |u1b AS (SELECT cov2.p,
              |    CAST(round(SUM(cov2.cv * v0.v), 6) AS DECIMAL(18,6))
              |      AS u
              |  FROM cov2 JOIN v0 USING (q) GROUP BY cov2.p),
              |n1b AS (SELECT sqrt(CAST(SUM(u * u) AS DOUBLE)) AS nrm
              |  FROM u1b),
              |v1b AS (SELECT p AS q, CAST(round(
              |      CAST(u AS DOUBLE) / n1b.nrm, 6) AS DECIMAL(12,6))
              |      AS v
              |  FROM u1b, n1b),
              |u2b AS (SELECT cov2.p,
              |    CAST(round(SUM(cov2.cv * v1b.v), 6) AS DECIMAL(18,6))
              |      AS u
              |  FROM cov2 JOIN v1b USING (q) GROUP BY cov2.p),
              |n2b AS (SELECT sqrt(CAST(SUM(u * u) AS DOUBLE)) AS nrm
              |  FROM u2b),
              |v2b AS (SELECT p AS q, CAST(round(
              |      CAST(u AS DOUBLE) / n2b.nrm, 6) AS DECIMAL(12,6))
              |      AS v
              |  FROM u2b, n2b)
              |SELECT component, dim, v FROM (
              |  SELECT CAST(0 AS BIGINT) AS component,
              |    CAST(q AS BIGINT) AS dim, CAST(v AS DOUBLE) AS v
              |  FROM v2
              |  UNION ALL
              |  SELECT CAST(1 AS BIGINT), CAST(q AS BIGINT),
              |    CAST(v AS DOUBLE)
              |  FROM v2b)
              |ORDER BY component, dim""".stripMargin)))

  /** q110's power-iteration replay (means → centered DECIMAL
    * components → covariance → two normalized matvecs, ending in the
    * eigenvector `v2(q, v)` with the centered frame `c(id, p, x)`
    * still in scope) — shared by q110 and q111 (the lloyd2Cte
    * pattern).
    */
  private lazy val pcaCtes: String =
    """b AS (SELECT vec_id,
      |    CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |m AS (SELECT t.p,
      |    CAST(round(avg(e[t.p + 1]), 6) AS DECIMAL(12,6)) AS m
      |  FROM b, range(0, 64) t(p) GROUP BY t.p),
      |c AS (SELECT b.vec_id AS id, t.p,
      |    CAST(e[t.p + 1] AS DECIMAL(12,6)) - m.m AS x
      |  FROM b, range(0, 64) t(p) JOIN m ON m.p = t.p),
      |cov AS (SELECT a.p, bb.p AS q,
      |    CAST(round(SUM(a.x * bb.x), 6) AS DECIMAL(18,6)) AS cv
      |  FROM c a JOIN c bb ON a.id = bb.id GROUP BY a.p, bb.p),
      |v0 AS (SELECT t.p AS q,
      |    CAST(0.125 AS DECIMAL(12,6)) AS v FROM range(0, 64) t(p)),
      |u1 AS (SELECT cov.p,
      |    CAST(round(SUM(cov.cv * v0.v), 6) AS DECIMAL(18,6)) AS u
      |  FROM cov JOIN v0 USING (q) GROUP BY cov.p),
      |n1 AS (SELECT sqrt(CAST(SUM(u * u) AS DOUBLE)) AS nrm
      |  FROM u1),
      |v1 AS (SELECT p AS q, CAST(round(CAST(u AS DOUBLE) / n1.nrm,
      |      6) AS DECIMAL(12,6)) AS v
      |  FROM u1, n1),
      |u2 AS (SELECT cov.p,
      |    CAST(round(SUM(cov.cv * v1.v), 6) AS DECIMAL(18,6)) AS u
      |  FROM cov JOIN v1 USING (q) GROUP BY cov.p),
      |n2 AS (SELECT sqrt(CAST(SUM(u * u) AS DOUBLE)) AS nrm
      |  FROM u2),
      |v2 AS (SELECT p AS q, CAST(round(CAST(u AS DOUBLE) / n2.nrm,
      |      6) AS DECIMAL(12,6)) AS v
      |  FROM u2, n2)""".stripMargin
}
