package graft.queries

import graft.operators.{Curation, Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Round-5 additions: corpus-curation operators — repetition scoring,
  * document-frequency pruning, config-driven stratified sampling,
  * unigram-LM quality scoring, blocklist gating, mixture planning —
  * plus int8 embedding quantization, SemDeDup, kNN auto-labeling, and
  * cross-corpus incremental near-dup detection.
  */
object Round5 {
  val defs: Seq[QueryDef] = Seq(

    // ---- Gopher-style repetition metrics, entirely map-side: every
    // metric is a higher-order-function fold over the per-doc token
    // array (the top-bigram count via sort + longest-equal-run fold),
    // so the operator has NO shuffle and scales with the scan.
    QueryDef("q67_repetition",
      (s, dir) => Curation
        .repetitionStats(t("documents")(s, dir), "text", "doc_id")
        .orderBy(col("doc_id")),
      Some("""WITH w AS (SELECT doc_id, list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0) AS ws FROM documents),
             |b AS (SELECT doc_id, unnest(list_transform(
             |    generate_series(2, len(ws)),
             |    i -> ws[i-1] || ' ' || ws[i])) AS bg FROM w),
             |bc AS (SELECT doc_id, MAX(cnt) AS top_n FROM (
             |    SELECT doc_id, bg, COUNT(*) AS cnt FROM b
             |    GROUP BY doc_id, bg) GROUP BY doc_id)
             |SELECT w.doc_id,
             |  CAST(len(ws) AS BIGINT) AS n_words,
             |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words,
             |  CAST(COALESCE(bc.top_n, 0) AS BIGINT) AS top_bigram_n
             |FROM w LEFT JOIN bc ON w.doc_id = bc.doc_id
             |ORDER BY w.doc_id""".stripMargin)),

    // ---- document-frequency stopword pruning: words present in >50%
    // of documents are boilerplate vocabulary; count each doc's kept
    // vs removed tokens. The stop set reduces to a handful of rows and
    // broadcasts back onto the token stream — the corpus side never
    // shuffles (plan shape documented on Curation.dfPruneCounts).
    QueryDef("q68_df_prune",
      (s, dir) => Curation
        .dfPruneCounts(t("documents")(s, dir), "text", "doc_id",
          maxDfFrac = 0.5)
        .orderBy(col("doc_id")),
      Some("""WITH w AS (SELECT doc_id, unnest(list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0)) AS word FROM documents),
             |d AS (SELECT word, COUNT(DISTINCT doc_id) AS df
             |  FROM w GROUP BY word),
             |s AS (SELECT word FROM d
             |  WHERE df > (SELECT COUNT(*) FROM documents) * 0.5)
             |SELECT doc_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |  CAST(COUNT(*) FILTER (word NOT IN (SELECT word FROM s))
             |    AS BIGINT) AS n_kept,
             |  CAST(COUNT(*) FILTER (word IN (SELECT word FROM s))
             |    AS BIGINT) AS n_removed
             |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- config-driven stratified sampling: per-language sampling
    // percentages ride a broadcast rate table (config-in-data, so a
    // 100 TB run feeds rates from a file, not a code change); the keep
    // decision is the same deterministic md5 bucket the split/sample
    // operators use. Audit view: totals and kept counts per stratum.
    QueryDef("q69_stratified_sample",
      (s, dir) => {
        implicit val sp = s
        Curation.stratifiedSample(t("documents")(s, dir),
            strataCol = "lang", keyCol = "doc_id",
            rates = Map("en" -> 10, "de" -> 25), defaultPct = 50)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_total"),
            count(when(col("sample_keep"), 1)).as("n_sampled"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, COUNT(*) AS n_total,
             |  COUNT(*) FILTER (
             |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
             |      1, 15)) AS BIGINT) % 100 <
             |    CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 25
             |      ELSE 50 END) AS n_sampled
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- composed quality gate: the repetition signals feed a fixed-
    // precedence keep/reject verdict (the production quality-filter
    // shape), audited as counts per reason. Integer comparisons only,
    // and the whole gate is a scan — no shuffle until the tiny audit
    // aggregation.
    QueryDef("q71_quality_gate",
      (s, dir) => Curation
        .qualityGate(t("documents")(s, dir), "text", "doc_id",
          minWords = 40, repMul = 10, divMul = 2)
        .groupBy(col("reason"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("reason")),
      Some("""WITH w AS (SELECT doc_id, list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0) AS ws FROM documents),
             |b AS (SELECT doc_id, unnest(list_transform(
             |    generate_series(2, len(ws)),
             |    i -> ws[i-1] || ' ' || ws[i])) AS bg FROM w),
             |bc AS (SELECT doc_id, MAX(cnt) AS top_n FROM (
             |    SELECT doc_id, bg, COUNT(*) AS cnt FROM b
             |    GROUP BY doc_id, bg) GROUP BY doc_id),
             |m AS (SELECT w.doc_id, len(ws) AS n_words,
             |    len(list_distinct(ws)) AS n_distinct,
             |    COALESCE(bc.top_n, 0) AS top_n
             |  FROM w LEFT JOIN bc ON w.doc_id = bc.doc_id),
             |v AS (SELECT doc_id, CASE
             |    WHEN n_words < 40 THEN 'too_short'
             |    WHEN top_n * 10 >= n_words THEN 'repetitive'
             |    WHEN n_distinct * 2 < n_words THEN 'low_diversity'
             |    ELSE 'kept' END AS reason FROM m)
             |SELECT reason, COUNT(*) AS n_docs FROM v
             |GROUP BY reason ORDER BY reason""".stripMargin)),

    // ---- int8 scalar quantization of the embedding column: 4× index
    // compression, map-side only. The codes are integer-exact across
    // engines (non-negative scaled value ⇒ HALF_UP == half-away-from-
    // zero), so the oracle checks the quantization itself — per-vector
    // code sum and extrema. Reconstruction quality (recall@10 vs exact)
    // is pinned by QuantizeSpec, which a SQL oracle can't express.
    QueryDef("q70_int8_quantize",
      (s, dir) => {
        val q = Similarity.quantizeInt8(col("embedding"))
        t("embeddings")(s, dir)
          .select(col("vec_id"), q.getField("codes").as("codes"))
          .select(col("vec_id"),
            aggregate(col("codes"), lit(0L), (acc, c) => acc + c)
              .as("code_sum"),
            array_min(col("codes")).cast("bigint").as("code_min"),
            array_max(col("codes")).cast("bigint").as("code_max"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id,
             |    CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
             |p AS (SELECT vec_id, d, list_min(d) AS mn,
             |    CASE WHEN list_max(d) > list_min(d)
             |      THEN list_max(d) - list_min(d) ELSE 1 END AS sc
             |  FROM e),
             |c AS (SELECT vec_id, list_transform(d,
             |    v -> CAST(round((v - mn) / sc * 255) AS INT) - 128)
             |    AS codes FROM p)
             |SELECT vec_id,
             |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
             |  CAST(list_min(codes) AS BIGINT) AS code_min,
             |  CAST(list_max(codes) AS BIGINT) AS code_max
             |FROM c ORDER BY vec_id""".stripMargin)),

    // ---- SemDeDup semantic deduplication (Abbas et al. 2023): coarse
    // k-cell clustering bounds the pairwise comparison to Σ|cell|²; a
    // vector is redundant when a LOWER-id same-cell neighbor reaches
    // the cosine threshold (lowest id survives as representative). The
    // oracle replays centroid seeding, cell assignment and the
    // within-cell verdict, so the full per-vector output hash-checks.
    QueryDef("q72_semdedup",
      (s, dir) => Similarity
        .semDedup(t("embeddings")(s, dir), threshold = 0.4,
          nCentroids = 16)
        .orderBy(col("vec_id")),
      Some("""WITH e AS (SELECT vec_id,
             |    CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
             |cen AS (SELECT vec_id AS cen_id, d AS cene
             |  FROM e ORDER BY vec_id LIMIT 16),
             |a0 AS (SELECT e.vec_id AS id, e.d, cen_id,
             |    round(list_dot_product(e.d, cene) /
             |      (sqrt(list_dot_product(e.d, e.d)) *
             |       sqrt(list_dot_product(cene, cene))), 6) AS csim
             |  FROM e, cen),
             |a1 AS (SELECT *, row_number() OVER (PARTITION BY id
             |    ORDER BY csim DESC, cen_id) AS r FROM a0),
             |a AS (SELECT id, d, cen_id AS cell FROM a1 WHERE r = 1),
             |dups AS (SELECT DISTINCT y.id FROM a x JOIN a y
             |  ON x.cell = y.cell AND x.id < y.id
             |  WHERE round(list_dot_product(x.d, y.d) /
             |    (sqrt(list_dot_product(x.d, x.d)) *
             |     sqrt(list_dot_product(y.d, y.d))), 6) >= 0.4)
             |SELECT a.id AS vec_id, a.cell,
             |  (dups.id IS NOT NULL) AS semdup
             |FROM a LEFT JOIN dups ON a.id = dups.id
             |ORDER BY vec_id""".stripMargin)),

    // ---- kNN auto-labeling: majority label among the 5 exact nearest
    // labeled neighbors, ties to the smaller label. The labeled pool
    // streams against broadcast queries (no candidate shuffle); the
    // vote aggregates the tiny |queries|·k neighbor table.
    QueryDef("q73_knn_classify",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        Similarity.knnClassify(emb.filter(col("vec_id") < 20), emb,
            k = 5)
          .orderBy(col("query_id"))
      },
      Some("""WITH q AS (SELECT vec_id AS qid,
             |    CAST(embedding AS DOUBLE[]) AS qe
             |  FROM embeddings WHERE vec_id < 20),
             |c AS (SELECT vec_id AS nid,
             |    CAST(embedding AS DOUBLE[]) AS ce, label
             |  FROM embeddings),
             |sc AS (SELECT qid AS query_id, nid, label,
             |    round(list_dot_product(qe, ce) /
             |      (sqrt(list_dot_product(qe, qe)) *
             |       sqrt(list_dot_product(ce, ce))), 6) AS sim
             |  FROM q, c WHERE qid != nid),
             |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             |    ORDER BY sim DESC, nid) AS rank FROM sc),
             |v AS (SELECT query_id, label AS n_label,
             |    COUNT(*) AS n_votes
             |  FROM r WHERE rank <= 5 GROUP BY query_id, label),
             |p AS (SELECT *, row_number() OVER (PARTITION BY query_id
             |    ORDER BY n_votes DESC, n_label) AS pr FROM v)
             |SELECT query_id, n_label AS pred_label, n_votes
             |FROM p WHERE pr = 1 ORDER BY query_id""".stripMargin)),

    // ---- unigram-LM quality proxy: mean corpus-unigram log-prob per
    // document (KenLM stand-in). Per-word log-probs round to 6 decimals
    // and ride DECIMAL through the weighted sum, so the per-doc
    // accumulation is exact/associative and hash-stable cross-engine.
    QueryDef("q74_unigram_logprob",
      (s, dir) => Curation
        .unigramLogProb(t("documents")(s, dir), "text", "doc_id")
        .orderBy(col("doc_id")),
      Some(s"""WITH $oUnigramLogProbs
             |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             |  CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END) *
             |    ((CAST(abs(s) * 1000000 AS BIGINT) * 2 + n_tokens)
             |      // (n_tokens * 2)) AS DOUBLE) / 1000000 AS avg_logp
             |FROM d ORDER BY doc_id""".stripMargin)),

    // ---- C4-style blocklist gate: token hits against an inlined term
    // blocklist, docs over the hit budget rejected. Map-side only.
    QueryDef("q75_blocklist",
      (s, dir) => Curation
        .blocklistGate(t("documents")(s, dir), "text", "doc_id",
          terms = Seq("slow", "dup"), maxHits = 3)
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  CAST(len(list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> list_contains(['slow', 'dup'], x)))
             |    AS BIGINT) AS n_hits,
             |  len(list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> list_contains(['slow', 'dup'], x))) > 3 AS blocked
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- data-mixture planning: per-language token totals vs a target
    // mixture and token budget → the sampling rate that realizes it.
    QueryDef("q76_mixture_rates",
      (s, dir) => {
        implicit val sp = s
        Curation.mixtureRates(t("documents")(s, dir), "text", "lang",
            shares = Map("en" -> 0.4, "zh" -> 0.2, "de" -> 0.15,
              "es" -> 0.15, "fr" -> 0.1),
            budget = 50000L)
          .orderBy(col("lang"))
      },
      Some("""WITH t AS (SELECT lang, SUM(len(list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0))) AS total_tokens
             |  FROM documents GROUP BY lang),
             |r AS (SELECT lang, total_tokens,
             |    CAST(CASE lang WHEN 'en' THEN 0.4 WHEN 'zh' THEN 0.2
             |      WHEN 'de' THEN 0.15 WHEN 'es' THEN 0.15
             |      WHEN 'fr' THEN 0.1 ELSE 0.0 END AS DOUBLE) AS share
             |  FROM t)
             |SELECT lang, CAST(total_tokens AS BIGINT) AS total_tokens,
             |  CAST(round(share * 50000) AS BIGINT) AS target_tokens,
             |  round(CASE WHEN total_tokens > 0 THEN
             |    least(CAST(1.0 AS DOUBLE), share * 50000 / total_tokens)
             |    ELSE 0.0 END, 6) AS rate
             |FROM r ORDER BY lang""".stripMargin)),

    // ---- incremental-ingestion near-dup: MinHash-LSH candidates
    // BETWEEN a "new shard" (doc_id ≡ 0 mod 5) and the existing corpus,
    // banded with the same hash family on both sides; the (small) new
    // shard's banded signatures broadcast.
    QueryDef("q77_cross_neardup",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        Dedup.minhashCrossCandidates(
            docs.filter(col("doc_id") % 5 === 0),
            docs.filter(col("doc_id") % 5 =!= 0),
            "doc_id", "text", n = 3, k = 16, bands = 4, minEst = 0.5)
          .orderBy(col("new_id"), col("corpus_id"))
      },
      Some {
        val k = 16; val bands = 4; val r = k / bands
        val mhC = Dedup.minhashConstants(k)
        val mins = (0 until k)
          .map(i => s"min(xor(h, ${mhC(i)})) AS m$i").mkString(", ")
        val bandSel = (0 until bands).map { b =>
          val cols = (0 until r).map(j => s"m${b * r + j}").mkString(", ")
          s"SELECT doc_id, $b AS band, concat_ws(',', $cols) AS bv FROM sig"
        }.mkString(" UNION ALL ")
        val est = (0 until k)
          .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH ${CorpusOps.oShinglesSql},
           |hs AS (SELECT doc_id, ${CorpusOps.oH60("s")} AS h FROM sh),
           |sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
           |banded AS ($bandSel),
           |cand AS (SELECT DISTINCT a.doc_id AS new_id,
           |    b.doc_id AS corpus_id
           |  FROM banded a JOIN banded b
           |    ON a.band = b.band AND a.bv = b.bv
           |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 != 0),
           |e AS (SELECT new_id, corpus_id, ($est) / ${k.toDouble}
           |    AS est_sim
           |  FROM cand JOIN sig sa ON new_id = sa.doc_id
           |    JOIN sig sb ON corpus_id = sb.doc_id)
           |SELECT new_id, corpus_id, est_sim FROM e
           |WHERE est_sim >= 0.5
           |ORDER BY new_id, corpus_id""".stripMargin
      }),

    // ---- RAG/context-window chunking: 32-token chunks, 8-token
    // overlap (stride 24). Map-side + explode; no shuffle.
    QueryDef("q78_chunk_tokens",
      (s, dir) => Curation
        .chunkTokens(t("documents")(s, dir), "text", "doc_id",
          chunkSize = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_id")),
      Some("""WITH w AS (SELECT doc_id, list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0) AS ws FROM documents),
             |c AS (SELECT doc_id, ws,
             |    unnest(generate_series(1, greatest(len(ws) - 8, 1),
             |      24)) AS start
             |  FROM w WHERE len(ws) > 0)
             |SELECT doc_id,
             |  CAST((start - 1) // 24 AS BIGINT) AS chunk_id,
             |  CAST(len(ws[start : least(start + 31, len(ws))])
             |    AS BIGINT) AS n_tokens,
             |  array_to_string(ws[start : least(start + 31, len(ws))],
             |    ' ') AS chunk_text
             |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // ---- training sequence packing: greedy concat-and-split into
    // 2048-token bins, per-language (packing parallelizes across
    // strata; a global order would serialize the sort at scale).
    QueryDef("q79_pack_sequences",
      // blocks pinned (not defaultParallelism) so the audited plan
      // shape — 3 hash exchanges + 3 broadcasts — is machine-
      // independent; the bin output is boundary-invariant either way
      (s, dir) => Curation
        .packSequences(t("documents")(s, dir), "text", "doc_id",
          strataCol = "lang", window = 2048L, blocks = 8)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("bin"))
        .orderBy(col("doc_id")),
      Some("""WITH tok AS (SELECT doc_id, lang,
             |    CAST(len(list_filter(
             |      string_split_regex(lower(text), '\s+'),
             |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (SELECT doc_id, lang, n_tokens,
             |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
             |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND 1 PRECEDING), 0) AS cum FROM tok)
             |SELECT doc_id, lang, n_tokens,
             |  CAST(floor(cum / 2048) AS BIGINT) AS bin
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- JSONL ingest round-trip: documents → JSON-lines files →
    // Sources.json (explicit schema, FAILFAST) → filtered projection.
    // The oracle sees only the original parquet, so the whole
    // write/read path is hash-gated, like q65 does for JDBC.
    QueryDef("q80_jsonl_roundtrip",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val outDir = scratchDir(dir, "q80_jsonl")
        val out = outDir.getAbsolutePath
        docs.write.mode("overwrite").json(out)
        graft.sources.Sources.json(s, out, Some(docs.schema))
          .filter(col("lang") === "en")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents
             |WHERE lang = 'en' ORDER BY doc_id""".stripMargin)),

    // ---- compression-ratio quality signal. DuckDB cannot replay
    // java.util.zip, so the raw DEFLATE byte count is the ONE trusted
    // column: the oracle reads it back from the verify-dumped parquet
    // (Verify substitutes __GRAFT_VERIFY_OUT__ with its outDir) and
    // recomputes everything derived — n_bytes from the source text,
    // the ratio division/rounding, and the keep/reject verdict — so
    // those are hash-gated cross-engine; only n_deflate itself rides
    // through. (Semantics of the DEFLATE kernel stay spec-gated in
    // CurationSpec: determinism, repetition monotonicity, bounds.)
    QueryDef("q81_compression_ratio",
      (s, dir) => Curation
        .compressionStats(t("documents")(s, dir), "text", "doc_id")
        .withColumn("verdict",
          when(col("n_bytes") === 0, "empty")
            .when(col("ratio") <= 0.3, "repetitive")
            .when(col("ratio") >= 0.9, "high_entropy")
            .otherwise("ok"))
        .orderBy(col("doc_id")),
      Some("""WITH r AS (SELECT doc_id, n_deflate FROM read_parquet(
             |    '__GRAFT_VERIFY_OUT__/q81_compression_ratio/*.parquet')),
             |j AS (SELECT d.doc_id,
             |    CAST(strlen(d.text) AS BIGINT) AS n_bytes, r.n_deflate
             |  FROM documents d JOIN r ON d.doc_id = r.doc_id),
             |x AS (SELECT doc_id, n_bytes, n_deflate,
             |    CASE WHEN n_bytes > 0 THEN
             |      round(CAST(n_deflate AS DOUBLE) / n_bytes, 4)
             |    END AS ratio FROM j)
             |SELECT doc_id, n_bytes, n_deflate, ratio,
             |  CASE WHEN n_bytes = 0 THEN 'empty'
             |    WHEN ratio <= 0.3 THEN 'repetitive'
             |    WHEN ratio >= 0.9 THEN 'high_entropy'
             |    ELSE 'ok' END AS verdict
             |FROM x ORDER BY doc_id""".stripMargin)),

    // ---- product quantization: 64 dims → 8 subspaces × 16 centroids
    // (4 bits each — 4 bytes/vector vs int8's 64). Deterministic
    // lowest-id seeding, so the oracle replays the full assignment.
    QueryDef("q82_pq_codes",
      (s, dir) => Similarity
        .pqCodes(t("embeddings")(s, dir), dims = 64, m = 8,
          nCentroids = 16)
        .orderBy(col("vec_id")),
      Some(s"""WITH $oPqSeeds,
             |${oPqNearest("a", "cen")},
             |c AS (SELECT id, j, cen_id AS code FROM a1 WHERE r = 1)
             |SELECT id AS vec_id,
             |  string_agg(CAST(code AS VARCHAR), ',' ORDER BY j)
             |    AS codes
             |FROM c GROUP BY id ORDER BY vec_id""".stripMargin)),

    // ---- PQ asymmetric-distance search: the query-side distance
    // table broadcasts onto the candidates' code stream; codes never
    // decompress. Per-subspace distances round + DECIMAL-accumulate so
    // the sums are associative and the oracle replays them exactly.
    QueryDef("q84_pq_topk",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        Similarity.pqTopK(emb.filter(col("vec_id") < 20), emb, k = 5,
            dims = 64, m = 8, nCentroids = 16)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $oPqSeeds,
             |${oPqNearest("a", "cen")},
             |c AS (SELECT id, j, cen_id AS code FROM a1 WHERE r = 1),
             |${oPqAdcTop5("cen")}""".stripMargin)),

    // ---- PII scrubbing: the corpus carries no PII, so the query
    // synthesizes one email + IP + phone per row FROM data columns
    // (deterministically) and the oracle replays count + redaction —
    // a live cross-engine check of the shared Java∩RE2 regex subset.
    QueryDef("q85_pii_scrub",
      (s, dir) => {
        // concat_ws, not concat: Spark concat NULLs out on any NULL
        // argument while DuckDB concat skips NULLs — concat_ws matches
        // DuckDB's skip semantics, keeping the hash gate honest even
        // if a corpus row ever carries a NULL column
        val synth = t("documents")(s, dir).select(col("doc_id"),
          concat_ws("", col("lang"), lit(" user"), col("doc_id"), lit("@"),
            col("source"), lit(".com tel 555-123-4567 ip 10.0.0."),
            (col("doc_id") % 256).cast("string"), lit(" "),
            substring(col("text"), 1, 40)).as("text"))
        Curation.piiScrub(synth, "text", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some {
        val Seq((email, _), (ip, _), (phone, _)) = Curation.piiPatterns
        s"""WITH synth AS (SELECT doc_id,
           |    concat(lang, ' user', doc_id, '@', source,
           |      '.com tel 555-123-4567 ip 10.0.0.',
           |      CAST(doc_id % 256 AS VARCHAR), ' ',
           |      substr(text, 1, 40)) AS text
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '$email'))
           |    + len(regexp_extract_all(text, '$ip'))
           |    + len(regexp_extract_all(text, '$phone'))
           |    AS BIGINT) AS n_pii,
           |  regexp_replace(regexp_replace(regexp_replace(text,
           |    '$email', '[EMAIL]', 'g'),
           |    '$ip', '[IP]', 'g'),
           |    '$phone', '[PHONE]', 'g') AS scrubbed
           |FROM synth ORDER BY doc_id""".stripMargin
      }),

    // ---- substring-level dedup candidates via winnowed fingerprints
    // (Schleimer 2003 / MOSS; the tractable stand-in for suffix-array
    // substring dedup): shared substrings of ≥ w+k−1 = 34 normalized
    // chars guarantee a shared fingerprint; pairs need ≥2 shared.
    QueryDef("q86_substring_pairs",
      (s, dir) => graft.operators.Dedup
        .substringCandidates(t("documents")(s, dir), "doc_id", "text",
          k = 25, w = 10, minShared = 2)
        .orderBy(col("da"), col("db")),
      Some(oSubstringPairs(incrementOnly = false))),

    // ---- IVF-PQ composite ANN (FAISS-style): coarse cells bound WHICH
    // candidates score (2 of 8 cells probed), PQ-ADC bounds HOW (codes
    // never decompress). nprobe = nCells would reduce to q84 exactly
    // (spec-pinned); here the oracle replays the pruned composite.
    QueryDef("q87_ivfpq_topk",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        Similarity.ivfPqTopK(emb.filter(col("vec_id") < 12), emb,
            k = 5, nCells = 8, nprobe = 2, dims = 64, m = 8,
            nCentroids = 16)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(oIvfPqTopK())),

    // ---- column profiling: all statistics in ONE aggregation/scan
    // (exact distincts ⇒ Expand; approx variant documented for scale).
    QueryDef("q83_profile",
      (s, dir) => graft.dq.Profile
        .profile(t("orders")(s, dir),
          Seq("o_orderkey", "o_orderdate", "o_orderpriority"))
        .orderBy(col("col_name")),
      Some(Seq("o_orderkey", "o_orderdate", "o_orderpriority").map(c =>
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  COUNT(*) FILTER ($c IS NULL) AS n_nulls,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_v,
           |  CAST(MAX($c) AS VARCHAR) AS max_v FROM orders""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))))
}
