package graft.queries

import graft.Tables
import graft.operators.{Curation, Dedup, Multimodal, Similarity, TextOps}
import org.apache.spark.sql.{Column}
import org.apache.spark.sql.functions._

/** Round-7 additions: the trained-centroid (Lloyd k-means) path under
  * the driver's hard signal — the production recall path for the whole
  * IVF/PQ/SemDeDup family, previously exercised only by tools and
  * specs — and the packSequences non-numeric-id degradation path under
  * the oracle.
  */
object Round7 {
  /** Shared by q94 (position-set variant) and q96 (packed-bitmap
    * variant): the two physical shapes are flag-for-flag identical by
    * construction, so one oracle gates both.
    */
  private[queries] val bloomOracle: String =
    """WITH w AS (SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS ws FROM documents),
      |idx AS (SELECT doc_id, ws,
      |    unnest(generate_series(1, len(ws) - 7)) AS i
      |  FROM w WHERE len(ws) >= 8),
      |sh AS (SELECT DISTINCT doc_id,
      |    array_to_string(ws[i : i + 7], ' ') AS s FROM idx),
      |hs AS (SELECT doc_id, CAST(concat('0x',
      |    substr(md5(s), 1, 15)) AS BIGINT) AS h FROM sh),
      |bits AS (SELECT DISTINCT CAST(concat('0x', substr(md5(
      |      CAST(h AS VARCHAR) || ':' || CAST(t.k AS VARCHAR)),
      |      1, 15)) AS BIGINT) % 4194304 AS pos
      |  FROM hs, range(0, 4) t(k) WHERE doc_id % 7 = 0),
      |probes AS (SELECT doc_id, h, CAST(concat('0x', substr(md5(
      |      CAST(h AS VARCHAR) || ':' || CAST(t.k AS VARCHAR)),
      |      1, 15)) AS BIGINT) % 4194304 AS pos
      |  FROM hs, range(0, 4) t(k)),
      |hits AS (SELECT doc_id, h, count(bits.pos) AS nh
      |  FROM probes LEFT JOIN bits USING (pos)
      |  GROUP BY doc_id, h),
      |agg AS (SELECT doc_id, COUNT(*) AS n_shingles,
      |    COUNT(*) FILTER (nh = 4) AS n_flagged
      |  FROM hits GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(COALESCE(agg.n_shingles, 0) AS BIGINT)
      |    AS n_shingles,
      |  CAST(COALESCE(agg.n_flagged, 0) AS BIGINT) AS n_flagged,
      |  COALESCE(agg.n_flagged, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
      |ORDER BY d.doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- spherical k-means training (2 Lloyd iterations, 8 cells):
    // the coarse-quantizer refinement behind ivfTopK/semDedup/ivfPq*
    // `trainIters`. Deterministic by construction — lowest-id seeds,
    // 6-decimal per-dimension means each iteration, rounded-cosine
    // assignment with lowest-cen_id tie-break — so the oracle replays
    // both iterations exactly. Output is the per-dimension mean table
    // of the final centroids (cen_id, p, m): scalar values, no arrays
    // to hash. Empty cells drop on both sides (standard Lloyd).
    QueryDef("q91_kmeans_train",
      (s, dir) => Similarity
        .trainedCentroids(t("embeddings")(s, dir), nCentroids = 8,
          iters = 2)
        .select(col("cen_id"),
          posexplode(col("cen_e").cast("array<double>"))
            .as(Seq("p", "m")))
        .select(col("cen_id"), col("p").cast("bigint").as("p"), col("m"))
        .orderBy(col("cen_id"), col("p")),
      Some(s"""WITH $oLloyd2Means
              |SELECT cell AS cen_id, CAST(p AS BIGINT) AS p, m FROM m2
              |ORDER BY cen_id, p""".stripMargin)),

    // ---- packSequences non-numeric-id degradation path under the
    // oracle: a string id ('d' + zero-padded doc_id, so lexicographic
    // order ≡ numeric order) nulls out the boundary-quantile cast and
    // packing degrades to one block per stratum — the documented
    // serial-but-correct fallback, here hash-gated against the same
    // greedy prefix-sum the numeric path replays (q79). blocks=8 is
    // requested and must be harmlessly ignored.
    QueryDef("q92_pack_string_ids",
      (s, dir) => Curation
        .packSequences(
          t("documents")(s, dir)
            .select(concat(lit("d"), lpad(col("doc_id"), 6, "0"))
              .as("doc_key"), col("lang"), col("text")),
          "text", "doc_key", strataCol = "lang", window = 2048L,
          blocks = 8)
        .select(col("doc_key"), col("lang"), col("n_tokens"), col("bin"))
        .orderBy(col("doc_key")),
      Some("""WITH tok AS (SELECT
             |    'd' || lpad(CAST(doc_id AS VARCHAR), 6, '0')
             |      AS doc_key, lang,
             |    CAST(len(list_filter(
             |      string_split_regex(lower(text), '\s+'),
             |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (SELECT doc_key, lang, n_tokens,
             |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
             |      ORDER BY doc_key ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND 1 PRECEDING), 0) AS cum FROM tok)
             |SELECT doc_key, lang, n_tokens,
             |  CAST(floor(cum / 2048) AS BIGINT) AS bin
             |FROM c ORDER BY doc_key""".stripMargin)),

    // ---- off-grid repeated-span stats: stride-1 sliding 3-word
    // windows, count positions whose exact span occurred earlier in
    // the same doc — the within-doc repeat signal dedupBlocks' aligned
    // grid can't see (its documented blind spot, r6 verdict item #8).
    // Map-side native kernel; oracle replays with exact string spans
    // and a min-position window.
    QueryDef("q93_span_repeats",
      (s, dir) => Curation
        .spanRepeatStats(t("documents")(s, dir), "text", "doc_id",
          spanWords = 3)
        .orderBy(col("doc_id")),
      Some("""WITH w AS (SELECT doc_id, list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0) AS ws FROM documents),
             |c AS (SELECT doc_id, ws,
             |    unnest(generate_series(1, len(ws) - 2)) AS i
             |  FROM w WHERE len(ws) >= 3),
             |s AS (SELECT doc_id, i,
             |    array_to_string(ws[i : i + 2], ' ') AS span FROM c),
             |k AS (SELECT doc_id, i,
             |    min(i) OVER (PARTITION BY doc_id, span) AS fi FROM s),
             |agg AS (SELECT doc_id, COUNT(*) AS n_spans,
             |    COUNT(*) FILTER (i != fi) AS n_repeated
             |  FROM k GROUP BY doc_id)
             |SELECT d.doc_id,
             |  CAST(COALESCE(agg.n_spans, 0) AS BIGINT) AS n_spans,
             |  CAST(COALESCE(agg.n_repeated, 0) AS BIGINT)
             |    AS n_repeated,
             |  CASE WHEN COALESCE(agg.n_spans, 0) > 0
             |    THEN round(agg.n_repeated / CAST(agg.n_spans
             |      AS DOUBLE), 6)
             |  END AS repeat_frac
             |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ---- Bloom-filter decontamination: benchmark = doc_id % 7 == 0
    // (the q55 split), probed over ALL documents so the oracle gates
    // both paths — bench docs must come out fully self-flagged
    // (hits == k for every shingle) and candidates flag only through
    // genuinely shared shingles / deterministic FPs. m = 2^22 bits,
    // k = 4, 8-word shingles.
    QueryDef("q94_bloom_decontaminate",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        Curation.bloomDecontaminate(docs,
            docs.filter(col("doc_id") % 7 === 0), "text", "doc_id",
            n = 8, mBits = 4194304L, kHashes = 4)
          .orderBy(col("doc_id"))
      },
      Some(bloomOracle)),

    // ---- the packed-bitmap form of q94: a native OR-merging bitmap
    // aggregate (512 KB regardless of benchmark size, no bench-side
    // shuffle) + a per-row all-probes-set expression (no k-way
    // explode). Flag-for-flag identical to the position-set shape, so
    // the SAME oracle gates it.
    QueryDef("q96_bloom_bitmap",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        Curation.bloomDecontaminateBitmap(docs,
            docs.filter(col("doc_id") % 7 === 0), "text", "doc_id",
            n = 8, mBits = 4194304L, kHashes = 4)
          .orderBy(col("doc_id"))
      },
      Some(bloomOracle)),

    // ---- IVF-PQ index persistence round-trip: build the index
    // artifacts (cells, codebook, codes), WRITE them to parquet, read
    // them back, and search from the persisted index without touching
    // the corpus embeddings — the build-once/search-many deployment
    // shape (separate index and serving jobs). Same parameters as
    // q87 and the SAME oracle: the round-trip must be bit-identical
    // (doubles survive parquet exactly), so any schema/value drift in
    // the persisted artifacts hash-fails here — the q80/q65 pattern
    // applied to the ANN index.
    QueryDef("q95_ivfpq_persist",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        val outDir = scratchDir(dir, "q95_index")
        Similarity.ivfPqIndex(emb, nCells = 8, dims = 64, m = 8,
            nCentroids = 16)
          .write(outDir.getAbsolutePath)
        val index = Similarity.IvfPqIndex.read(s, outDir.getAbsolutePath)
        Similarity.ivfPqSearch(emb.filter(col("vec_id") < 12), index,
            k = 5, nprobe = 2)
          .orderBy(col("query_id"), col("rank"))
      },
      // the persisted index must reproduce the live q87 pipeline
      // bit-for-bit, so the oracle IS q87's
      Some(oIvfPqTopK())),

    // ---- real media-metadata probe, hash-gated as parse∘construct ≡
    // identity: Spark BUILDS genuine container headers (PNG big-endian
    // IHDR dims, WAV little-endian fmt chunk) from document fields,
    // parses them back with the native header kernel, and the oracle
    // predicts the fields ARITHMETICALLY — any drift in either the
    // construction or the parser hash-fails. The non-multiple-of-3
    // docs carry raw text bytes and must probe as unknown/null.
    QueryDef("q97_media_probe",
      (s, dir) => {
        def be32(c: Column): Column = lpad(hex(c), 8, "0")
        def le32(c: Column): Column = {
          val x = lpad(hex(c), 8, "0")
          concat(substring(x, 7, 2), substring(x, 5, 2),
            substring(x, 3, 2), substring(x, 1, 2))
        }
        def le16(c: Column): Column = {
          val x = lpad(hex(c), 4, "0")
          concat(substring(x, 3, 2), substring(x, 1, 2))
        }
        val w = col("n_chars") % 1000 + 1
        val h = col("doc_id") % 500 + 1
        val sr = lit(8000) + col("n_chars") % 40000
        val ch = col("doc_id") % 8 + 1
        val png = unhex(concat(
          lit("89504E470D0A1A0A0000000D49484452"), be32(w), be32(h)))
        val wav = unhex(concat(
          lit("52494646"), le32(lit(36)), lit("57415645666D7420"),
          le32(lit(16)), le16(lit(1)), le16(ch), le32(sr),
          lit("0000000000000000")))
        // the unknown branch is guaranteed-by-construction: a leading
        // '#' (0x23) byte matches no container magic, so a document
        // whose text happens to start with e.g. "BM…" can't drift the
        // probe to bmp across regenerated corpora / scale factors
        val payload = when(col("doc_id") % 3 === 0, png)
          .when(col("doc_id") % 3 === 1, wav)
          .otherwise(concat(unhex(lit("23")),
            Multimodal.syntheticPayload(col("text"))))
        // NO Tables.rebalance here (round 20): this probe parses a
        // ≤44-byte synthetic header per row — the round-robin
        // exchange (plus its sort-before-repartition) costs more than
        // the work it spreads (measured 0.27 → 0.55 s when the
        // blanket media rebalance landed in round 19). Its 16 media
        // siblings keep the rebalance: their codec kernels dominate
        // the exchange. At production scale the scan has many splits
        // and rebalance short-circuits to a no-op either way.
        Multimodal.mediaProbe(
            t("documents")(s, dir).withColumn("payload", payload),
            "doc_id", "payload")
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 3 = 0 THEN 'png'
             |       WHEN doc_id % 3 = 1 THEN 'wav'
             |       ELSE 'unknown' END AS format,
             |  CASE WHEN doc_id % 3 = 0
             |    THEN CAST(n_chars % 1000 + 1 AS BIGINT) END AS width,
             |  CASE WHEN doc_id % 3 = 0
             |    THEN CAST(doc_id % 500 + 1 AS BIGINT) END AS height,
             |  CASE WHEN doc_id % 3 = 1
             |    THEN CAST(8000 + n_chars % 40000 AS BIGINT)
             |  END AS sample_rate,
             |  CASE WHEN doc_id % 3 = 1
             |    THEN CAST(doc_id % 8 + 1 AS BIGINT) END AS channels
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- incremental sequence packing (the nightly-refresh shape):
    // the even-id half of the corpus is "yesterday's" packed data; the
    // odd-id half packs TODAY with per-stratum start offsets carried
    // over, so its bins continue yesterday's numbering instead of
    // restarting at 0. Oracle replays the carried offsets in the
    // window frame.
    QueryDef("q98_pack_append",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val old = docs.filter(col("doc_id") % 2 === 0)
        val offsets = old
          .groupBy(col("lang"))
          .agg(sum(size(graft.operators.TextOps.words(col("text")))
            .cast("bigint")).as("start_tokens"))
        Curation.packSequences(docs.filter(col("doc_id") % 2 =!= 0),
            "text", "doc_id", strataCol = "lang", window = 2048L,
            blocks = 8, startOffsets = Some(offsets))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("bin"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (SELECT doc_id, lang,
             |    CAST(len(list_filter(
             |      string_split_regex(lower(text), '\s+'),
             |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
             |  FROM documents),
             |old AS (SELECT lang, SUM(n_tokens) AS start
             |  FROM tok WHERE doc_id % 2 = 0 GROUP BY lang),
             |c AS (SELECT t.doc_id, t.lang, t.n_tokens,
             |    COALESCE(o.start, 0) +
             |    COALESCE(SUM(t.n_tokens) OVER (PARTITION BY t.lang
             |      ORDER BY t.doc_id ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND 1 PRECEDING), 0) AS cum
             |  FROM tok t LEFT JOIN old o ON t.lang = o.lang
             |  WHERE t.doc_id % 2 = 1)
             |SELECT doc_id, lang, n_tokens,
             |  CAST(floor(cum / 2048) AS BIGINT) AS bin
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- canonical selection per duplicate cluster: the "keep one,
    // not drop all" resolution step after q45's clustering — highest
    // quality score wins, ties to the lowest doc_id. One map-side
    // partial max_by per cluster (no window sort). Oracle walks the
    // same component graph, scores with the same two-division formula
    // (bit-identical doubles — exact integer counts, one division
    // each), and picks with a deterministic row_number.
    QueryDef("q99_cluster_keep_best",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val pairs = CorpusOps.sharedJaccardPairs(s, dir)
        val clusters = Dedup.connectedComponents(
          pairs, docs.select(col("doc_id")), "doc_id")
        val scored = docs
          .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
          .filter(size(col("ws")) >= 1)
          .select(col("doc_id"),
            TextOps.qualityScore(col("ws"), CorpusOps.enM).as("q"))
        Dedup.keepBestPerCluster(clusters, scored, "doc_id", "q")
          .select(col("cluster"), col("kept_id").as("kept_doc_id"),
            col("n_members"), round(col("best_score"), 6).as("best_score"))
          .orderBy(col("cluster"))
      },
      Some(s"""WITH RECURSIVE $oShinglePairs,
              |prs AS (SELECT da, db FROM p
              |  JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
              |  WHERE inter / (x.n + y.n - inter) >= 0.6),
              |edges AS (SELECT da AS src, db AS dst FROM prs
              |  UNION ALL SELECT db, da FROM prs),
              |$oWalk,
              |cl AS (SELECT id AS doc_id, min(lbl) AS cluster
              |  FROM walk GROUP BY id),
              |tok AS (SELECT doc_id, list_filter(
              |    string_split_regex(lower(text), '\\s+'),
              |    x -> len(x) > 0) AS ws FROM documents),
              |q AS (SELECT doc_id,
              |    (CAST(len(list_filter(ws, x -> list_contains(
              |      [${CorpusOps.oMarkers(CorpusOps.enM)}], x)))
              |      AS BIGINT) / len(ws)) * 0.5 +
              |    1.0 / (1.0 + abs(
              |      CAST(list_sum(list_transform(ws, x -> len(x)))
              |        AS BIGINT) / len(ws) - 5.0)) * 0.5 AS q
              |  FROM tok WHERE len(ws) >= 1),
              |r AS (SELECT cl.cluster, q.doc_id, q.q,
              |    ROW_NUMBER() OVER (PARTITION BY cl.cluster
              |      ORDER BY q.q DESC, q.doc_id ASC) AS rn,
              |    COUNT(*) OVER (PARTITION BY cl.cluster) AS n_members,
              |    MAX(q.q) OVER (PARTITION BY cl.cluster) AS best
              |  FROM cl JOIN q USING (doc_id))
              |SELECT cluster, doc_id AS kept_doc_id,
              |  CAST(n_members AS BIGINT) AS n_members,
              |  round(best, 6) AS best_score
              |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin)),

    // ---- bigram-LM document scoring: the conditional-probability rung
    // above q74's unigram model (add-one smoothing over the bigram-model
    // vocabulary — distinct w1 ∪ w2, derived from the one materialized
    // tf aggregate instead of a separate corpus scan). Same determinism
    // discipline: per-bigram logp rounded to 6 decimals into
    // DECIMAL(20,6), exact decimal sums, one final float division.
    QueryDef("q100_bigram_logprob",
      (s, dir) => Curation
        .bigramLogProb(t("documents")(s, dir), "text", "doc_id")
        .orderBy(col("doc_id")),
      Some("""WITH w AS (SELECT doc_id, list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0) AS ws FROM documents),
             |b AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
             |  FROM (SELECT doc_id, ws,
             |      unnest(generate_series(1, len(ws) - 1)) AS i
             |    FROM w WHERE len(ws) >= 2)),
             |tf AS (SELECT doc_id, w1, w2, COUNT(*) AS tf
             |  FROM b GROUP BY doc_id, w1, w2),
             |v AS (SELECT COUNT(DISTINCT wd) AS v FROM
             |  (SELECT w1 AS wd FROM tf UNION SELECT w2 FROM tf)),
             |cb AS (SELECT w1, w2, SUM(tf) AS cbn FROM tf GROUP BY w1, w2),
             |cw AS (SELECT w1, SUM(tf) AS cwn FROM tf GROUP BY w1),
             |lp AS (SELECT w1, w2, CAST(round(ln((cbn + 1) / (cwn + v.v)), 6)
             |    AS DECIMAL(20,6)) AS logp
             |  FROM cb JOIN cw USING (w1), v),
             |d AS (SELECT tf.doc_id, SUM(tf.tf) AS n_bigrams,
             |    SUM(lp.logp * tf.tf) AS s
             |  FROM tf JOIN lp USING (w1, w2) GROUP BY tf.doc_id)
             |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
             |  CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END) *
             |    ((CAST(abs(s) * 1000000 AS BIGINT) * 2 + n_bigrams)
             |      // (n_bigrams * 2)) AS DOUBLE) / 1000000 AS avg_logp
             |FROM d ORDER BY doc_id""".stripMargin)))
}
