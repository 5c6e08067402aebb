package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Round-15 queries (q344+): the re-crawl round — UPSERT on the
  * persisted text indexes (generation-aware tombstones:
  * [[graft.sink.IndexLayout]]), plus this round's lifecycle and
  * multimodal extensions.
  */
object Round15 {
  private def t(name: String): QueryFn =
    (s, dir) => Tables.load(s, dir, name)

  /** The q344/q345 re-crawl mutation, shared by the Spark side and the
    * oracle: doc_id%5=0 docs get this suffix appended — a changed page
    * body whose stale index facts must die. */
  private val recrawlSuffix = " recrawl revision fresh tokens"
  private val oMutatedDocs: String =
    "(SELECT doc_id, CASE WHEN doc_id % 5 = 0 " +
      s"THEN text || '$recrawlSuffix' ELSE text END AS text " +
      "FROM documents)"

  /** q344's query batch: query 2/3 carry the mutation's tokens, so
    * the hash only matches if the re-crawled text actually serves. */
  private[queries] val upsertQueries: Seq[(Int, String)] = Seq(
    1 -> "hash join planner",
    2 -> "recrawl revision fresh",
    3 -> "partition shuffle revision",
    4 -> "scan filter zzzabsent")

  val defs: Seq[QueryDef] = Seq(

    // ---- TF-index UPSERT (the r14 verdict's #2 — the second-most-
    // common ingest event after new docs): build the TF index on the
    // FULL corpus, then deliver doc_id%5=0 as a RE-CRAWL whose text
    // changed, in ONE call. Generation discipline: the upsert
    // tombstones the incoming ids at below_gen=g and appends their
    // fresh TF facts at gen=g — fresh facts survive their own
    // tombstone, every stale generation dies at read time, and
    // idf/avgdl/df recompute over the post-re-crawl corpus for free
    // (read-time stats). Query 2 contains the mutation's tokens, so a
    // green hash proves the NEW text serves and the OLD text is gone —
    // the oracle is exhaustive BM25 over a corpus REBUILT with the
    // mutated text (RetrievalSpec adds upsert-twice ≡ once, new-id
    // upsert ≡ append, upsert-after-delete resurrects, purge ≡
    // logical).
    QueryDef("q344_bm25_upsert",
      (s, dir) => {
        val outDir = scratchDir(dir, "q344_tfidx")
        val docs = t("documents")(s, dir)
        graft.operators.Retrieval.writeTfIndex(
          docs, outDir.getAbsolutePath, wordBuckets = 16)
        val recrawl = docs.where(col("doc_id") % 5 === 0)
          .withColumn("text", concat(col("text"), lit(recrawlSuffix)))
        graft.operators.Retrieval.tfFamily().upsert(
          outDir.getAbsolutePath, recrawl)
        graft.operators.Retrieval.bm25TopKFromTfIndex(
          s, outDir.getAbsolutePath, upsertQueries, k = 10)
      },
      Some(s"""WITH ${graft.operators.Retrieval.bm25OracleCtes(
                upsertQueries
                  .map { case (q, x) => s"($q, '$x')" }.mkString(", "),
                1.2, 0.75, docsFrom = oMutatedDocs)},
              |r AS (SELECT query_id, doc_id, score,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY score DESC, doc_id) AS rnk
              |  FROM sc)
              |SELECT query_id, doc_id, score,
              |  CAST(rnk AS BIGINT) AS rank
              |FROM r WHERE rnk <= 10
              |ORDER BY query_id, rank""".stripMargin)),

    // ---- shingle-index UPSERT (the dedup twin of q344): build the
    // shingle index on the FULL corpus, upsert the doc_id%5=0 re-crawl
    // (re-shingling its NEW text only — yesterday's corpus text is
    // never touched), then emit every exact-Jaccard pair ≥ 0.5
    // TOUCHING the re-crawled ids from the index's current state.
    // Prefix ranks recompute over the post-upsert postings; the
    // oracle is the exhaustive pair set over a corpus REBUILT with
    // the mutated text, restricted to upsert-touching pairs — a green
    // hash proves the stale shingles are dead and the new ones pair.
    QueryDef("q345_jaccard_upsert",
      (s, dir) => {
        val outDir = scratchDir(dir, "q345_shidx")
        val docs = t("documents")(s, dir)
        graft.operators.Dedup.writeShingleIndex(
          docs, outDir.getAbsolutePath, n = 3, shingleBuckets = 16)
        val recrawl = docs.where(col("doc_id") % 5 === 0)
          .withColumn("text", concat(col("text"), lit(recrawlSuffix)))
        graft.operators.Dedup.shingleFamily().upsert(
          outDir.getAbsolutePath, recrawl)
        graft.operators.Dedup.jaccardPairsAgainstIndex(
            s, outDir.getAbsolutePath, threshold = 0.5,
            recrawl.select(col("doc_id")))
          .orderBy(col("da"), col("db"))
      },
      Some(s"""WITH w AS (SELECT doc_id,
              |    list_filter(string_split_regex(lower(text), '\\s+'),
              |      x -> len(x) > 0) AS ws
              |  FROM $oMutatedDocs d),
              |idx AS (SELECT doc_id, ws,
              |    unnest(generate_series(1, len(ws) - 2)) AS i
              |  FROM w WHERE len(ws) >= 3),
              |sh AS (SELECT DISTINCT doc_id,
              |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
              |  FROM idx),
              |hs AS (SELECT doc_id, ${CorpusOps.oH60("s")} AS h
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
              |  AND (da % 5 = 0 OR db % 5 = 0)
              |ORDER BY da, db""".stripMargin)),

    // ---- JPEG 4:2:0 + RESTART INTERVALS, hash-gated round trip (the
    // r14 verdict's #1: real-world baseline JPEGs are overwhelmingly
    // 4:2:0 with RST markers — a decoder scoped to 4:4:4/no-DRI would
    // null them all in a genuine media-QA pass). Spark CONSTRUCTS the
    // subsampled streams in-query: per doc an MCU-CONSTANT RGB image
    // (16×16 blocks), encoded via the kernel's 4:2:0 mode with a
    // doc-varying DRI (0-3 MCUs — rows with ri>0 carry genuine RSTm
    // markers the decoder must resync over, DC predictors reset), then
    // decoded back by jpegStats. Constant MCUs are DC-only in all
    // THREE components (the 4 Y blocks and both subsampled chroma
    // blocks are constant; the pinned top-left chroma pick of a
    // constant MCU is the constant), so the oracle extends q334's
    // closed form per component: yq/cbq/crq through the staged DC
    // pipeline, nearest-neighbor upsample of a constant = the
    // constant, ycc→rgb pinned. doc_id%7=6 rows carry non-JPEG bytes
    // → all-null (the q334 garbage discipline).
    QueryDef("q346_jpeg_420_roundtrip",
      (s, dir) => {
        import org.apache.spark.sql.Column
        val w = (col("doc_id") % 2 + 1) * 16
        val h = (col("doc_id") % 3 + 1) * 16
        val ri = col("doc_id") % 4 // restart interval in MCUs; 0=none
        def mcuVal(mx: Column, my: Column, mw: Column, k: Column) =
          (col("doc_id") * 7 + (my * mw + mx) * 37 + k * 11) % 256
        // pixels are MCU-constant, so build each ROW as (w/16)
        // 16-fold repeats of a 6-hex-char RGB triple — h·(w/16)
        // hex computations per doc instead of w·h·3 (an 18 s → ~2 s
        // construction win at sf0.1; the decode under test is
        // unchanged)
        def hx(c: Column) = lpad(hex(c), 2, "0")
        val mw = Round14.idiv(w, lit(16))
        val px = unhex(array_join(
          transform(sequence(lit(0L), h - 1), y => {
            val my = Round14.idiv(y, lit(16))
            array_join(
              transform(sequence(lit(0L), mw - 1), mx =>
                repeat(concat(hx(mcuVal(mx, my, mw, lit(0))),
                  hx(mcuVal(mx, my, mw, lit(1))),
                  hx(mcuVal(mx, my, mw, lit(2)))), 16)), "")
          }), ""))
        val jpg = graft.functions.Jpeg.jpegEncode420(w, h, px, ri)
        val payload = when(col("doc_id") % 7 === 6,
            graft.operators.Multimodal.syntheticPayload(col("text")))
          .otherwise(jpg)
        graft.Tables.rebalance(t("documents")(s, dir)
            .select(col("doc_id"), col("text")))
          .withColumn("st", graft.functions.Jpeg.jpegStats(payload))
          .select(col("doc_id"), col("st.width"), col("st.height"),
            col("st.channels"), col("st.n_pixels"), col("st.sum_c0"),
            col("st.sum_c1"), col("st.sum_c2"),
            col("st.sum_luma_milli"))
          .orderBy(col("doc_id"))
      },
      Some {
        import Round14.{oDcPipe, oRgbY, oRgbCb, oRgbCr, oYcc2R,
          oYcc2G, oYcc2B}
        def v(k: Int) =
          s"(doc_id * 7 + (my * (w // 16) + mx) * 37 + $k * 11) % 256"
        val (yc, cb, cr) = (oRgbY(v(0), v(1), v(2)),
          oRgbCb(v(0), v(1), v(2)), oRgbCr(v(0), v(1), v(2)))
        s"""WITH d AS (SELECT doc_id, (doc_id % 2 + 1) * 16 AS w,
           |    (doc_id % 3 + 1) * 16 AS h
           |  FROM documents WHERE doc_id % 7 <> 6),
           |mx0 AS (SELECT doc_id, w, h,
           |    unnest(generate_series(0, w // 16 - 1)) AS mx FROM d),
           |mcu AS (SELECT doc_id, w, h, mx,
           |    unnest(generate_series(0, h // 16 - 1)) AS my FROM mx0),
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
           |a AS (SELECT doc_id, 256 * SUM(o0) AS s0,
           |    256 * SUM(o1) AS s1, 256 * SUM(o2) AS s2
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
           |UNION ALL
           |SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           |  NULL
           |FROM documents WHERE doc_id % 7 = 6
           |ORDER BY doc_id""".stripMargin
      }),

    // ---- ANN RETRAIN TRIGGER (the r14 verdict's #4 — turn q342's
    // measured 2.5× recall gap into an operator): build the IVF-PQ
    // index on the EVEN half, persist it with its train-time
    // distortion baseline, then measure the ODD half's (the append's)
    // PQ residual distortion under the FROZEN codebook — one pass
    // over the increment, NO brute-force truth. The row reports the
    // exact-integer distortion ratio a retrain decision keys on;
    // PLANS.md's round-15 table ties this ratio to q342's hash-gated
    // recall numbers on the SAME split (the q325 calibrate-then-gate
    // discipline), so the documented threshold is a number, not a
    // guess. The oracle replays the full stat: subvector split, the
    // frozen 16-lowest-even-id codebook, per-(vector, subspace) min
    // rounded distance², micro-integer sums and the ppm ratio.
    QueryDef("q347_ann_drift_trigger",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        val outDir = scratchDir(dir, "q347_annidx")
        graft.operators.Similarity.ivfPqIndex(
            emb.where(col("vec_id") % 2 === 0), nCells = 8, dims = 64,
            m = 8, nCentroids = 16)
          .write(outDir.getAbsolutePath)
        graft.operators.Similarity.writeIvfPqDriftBaseline(
          s, outDir.getAbsolutePath,
          emb.where(col("vec_id") % 2 === 0), dims = 64, m = 8)
        graft.operators.Similarity.ivfPqDriftStats(
          s, outDir.getAbsolutePath,
          emb.where(col("vec_id") % 2 === 1), dims = 64, m = 8)
      },
      Some(
        s"""WITH e AS MATERIALIZED (SELECT vec_id,
           |    CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
           |s AS MATERIALIZED (SELECT vec_id, t.j,
           |    d[t.j*8+1 : t.j*8+8] AS sv FROM e, range(0, 8) t(j)),
           |pcen AS MATERIALIZED (SELECT j, s.vec_id AS cen_id,
           |    sv AS cv FROM s
           |  WHERE s.vec_id IN (SELECT vec_id FROM e
           |    WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 16)),
           |d0 AS (SELECT s.vec_id AS id, s.j,
           |    MIN(CAST(round(list_dot_product(sv, sv)
           |      - 2 * list_dot_product(sv, cv)
           |      + list_dot_product(cv, cv), 6) AS DECIMAL(20,6)))
           |      AS d2
           |  FROM s JOIN pcen ON s.j = pcen.j
           |  GROUP BY 1, 2),
           |agg AS (SELECT (id % 2) AS side, COUNT(DISTINCT id) AS n,
           |    CAST(SUM(d2) * 1000000 AS BIGINT) AS sum_micro
           |  FROM d0 GROUP BY 1)
           |SELECT CAST(b.n AS BIGINT) AS n_train,
           |  b.sum_micro // b.n AS base_mean_micro,
           |  CAST(a.n AS BIGINT) AS n_appended,
           |  a.sum_micro // a.n AS appended_mean_micro,
           |  ((a.sum_micro // a.n) * 1000000) // (b.sum_micro // b.n)
           |    AS distortion_ratio_ppm
           |FROM (SELECT * FROM agg WHERE side = 0) b,
           |  (SELECT * FROM agg WHERE side = 1) a""".stripMargin)),

    // ---- STREAMING ingest into the TF index (the r14 verdict's #6 —
    // the first operator where the streaming and index lifecycles
    // meet): the index is built on doc_id%3=0, then the %3=1 and %3=2
    // thirds arrive as foreachBatch micro-batches through
    // [[graft.sink.IndexFamily.ingestBatch]] — the REAL sink body,
    // including its exactly-once guard — and batch 0 is REDELIVERED
    // (an at-least-once transport's failure replay, the q272
    // discipline). The guard skips it via the committed-epoch marker
    // in `path/ingest_meta`; a double-ingest would shift tf/df/dl and
    // hash-fail, so the green row gates the guard, not just the
    // append. Oracle = exhaustive BM25 over the full corpus
    // (EventStreamsSpec pins the same parity through a genuine
    // MemoryStream + checkpoint restart).
    QueryDef("q348_tf_stream_ingest",
      (s, dir) => {
        val outDir = scratchDir(dir, "q348_tfidx")
        val docs = t("documents")(s, dir)
        graft.operators.Retrieval.writeTfIndex(
          docs.where(col("doc_id") % 3 === 0),
          outDir.getAbsolutePath, wordBuckets = 16)
        val b0 = docs.where(col("doc_id") % 3 === 1)
        val b1 = docs.where(col("doc_id") % 3 === 2)
        val p = outDir.getAbsolutePath
        val tf = graft.operators.Retrieval.tfFamily()
        tf.ingestBatch(p, b0, 0L)
        tf.ingestBatch(p, b1, 1L)
        // the transport replays batch 0 — the guard must skip it
        val replayed = tf.ingestBatch(p, b0, 0L)
        require(!replayed, "replay guard failed to skip epoch 0")
        graft.operators.Retrieval.bm25TopKFromTfIndex(
          s, p, Round13.incrementalQueries, k = 10)
      },
      Some(s"""WITH ${graft.operators.Retrieval.bm25OracleCtes(
                Round13.incrementalQueries
                  .map { case (q, x) => s"($q, '$x')" }.mkString(", "),
                1.2, 0.75)},
              |r AS (SELECT query_id, doc_id, score,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY score DESC, doc_id) AS rnk
              |  FROM sc)
              |SELECT query_id, doc_id, score,
              |  CAST(rnk AS BIGINT) AS rank
              |FROM r WHERE rnk <= 10
              |ORDER BY query_id, rank""".stripMargin)),

    // ---- JPEG 4:2:2 (the second-most-common real-world sampling —
    // q346's discipline on the 2×1-Y MCU grid): per doc an
    // MCU-CONSTANT image on the 16×8 grid, encoded 4:2:2 with a
    // doc-varying DRI, decoded by the same sampling-general entropy
    // loop. Constant MCUs are DC-only in all three components
    // (horizontal-only chroma subsampling of a constant is the
    // constant), so the oracle is q346's closed form on the 16×8
    // block geometry.
    QueryDef("q350_jpeg_422_roundtrip",
      (s, dir) => {
        import org.apache.spark.sql.Column
        val w = (col("doc_id") % 2 + 1) * 16
        val h = (col("doc_id") % 3 + 1) * 8
        val ri = col("doc_id") % 3 // restart interval in MCUs; 0=none
        def mcuVal(mx: Column, my: Column, mw: Column, k: Column) =
          (col("doc_id") * 7 + (my * mw + mx) * 37 + k * 11) % 256
        def hx(c: Column) = lpad(hex(c), 2, "0")
        val mw = Round14.idiv(w, lit(16))
        val px = unhex(array_join(
          transform(sequence(lit(0L), h - 1), y => {
            val my = Round14.idiv(y, lit(8))
            array_join(
              transform(sequence(lit(0L), mw - 1), mx =>
                repeat(concat(hx(mcuVal(mx, my, mw, lit(0))),
                  hx(mcuVal(mx, my, mw, lit(1))),
                  hx(mcuVal(mx, my, mw, lit(2)))), 16)), "")
          }), ""))
        val jpg = graft.functions.Jpeg.jpegEncode422(w, h, px, ri)
        val payload = when(col("doc_id") % 7 === 6,
            graft.operators.Multimodal.syntheticPayload(col("text")))
          .otherwise(jpg)
        graft.Tables.rebalance(t("documents")(s, dir)
            .select(col("doc_id"), col("text")))
          .withColumn("st", graft.functions.Jpeg.jpegStats(payload))
          .select(col("doc_id"), col("st.width"), col("st.height"),
            col("st.channels"), col("st.n_pixels"), col("st.sum_c0"),
            col("st.sum_c1"), col("st.sum_c2"),
            col("st.sum_luma_milli"))
          .orderBy(col("doc_id"))
      },
      Some {
        import Round14.{oDcPipe, oRgbY, oRgbCb, oRgbCr, oYcc2R,
          oYcc2G, oYcc2B}
        def v(k: Int) =
          s"(doc_id * 7 + (my * (w // 16) + mx) * 37 + $k * 11) % 256"
        val (yc, cb, cr) = (oRgbY(v(0), v(1), v(2)),
          oRgbCb(v(0), v(1), v(2)), oRgbCr(v(0), v(1), v(2)))
        s"""WITH d AS (SELECT doc_id, (doc_id % 2 + 1) * 16 AS w,
           |    (doc_id % 3 + 1) * 8 AS h
           |  FROM documents WHERE doc_id % 7 <> 6),
           |mx0 AS (SELECT doc_id, w, h,
           |    unnest(generate_series(0, w // 16 - 1)) AS mx FROM d),
           |mcu AS (SELECT doc_id, w, h, mx,
           |    unnest(generate_series(0, h // 8 - 1)) AS my FROM mx0),
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
           |a AS (SELECT doc_id, 128 * SUM(o0) AS s0,
           |    128 * SUM(o1) AS s1, 128 * SUM(o2) AS s2
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
           |UNION ALL
           |SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           |  NULL
           |FROM documents WHERE doc_id % 7 = 6
           |ORDER BY doc_id""".stripMargin
      }),

    // ---- SALVAGE decode of damaged JPEGs (why restart intervals
    // exist): at 100 TB of crawled media, bit rot and truncated
    // transfers are routine — a QA pass that nulls a whole image for
    // one flipped byte throws away everything its RST markers
    // protected. Spark CONSTRUCTS q346's 4:2:0 streams with ri=1,
    // then CORRUPTS each in-query (the two bytes before EOI become an
    // invalid marker — always inside the LAST restart segment's
    // entropy bytes), and reads them back through jpegStatsSalvage:
    // the strict decoder returns all-null for every such row; the
    // salvage decoder renders exactly the last MCU mid-gray, resumes
    // nothing (it was the last segment), and reports corrupt_mcus=1.
    // The oracle is q346's closed form with the last MCU replaced by
    // gray — so the green hash pins WHERE the damage landed, not just
    // that something decoded.
    QueryDef("q351_jpeg_salvage",
      (s, dir) => {
        import org.apache.spark.sql.Column
        val w = (col("doc_id") % 2 + 1) * 16
        val h = (col("doc_id") % 3 + 1) * 16
        def mcuVal(mx: Column, my: Column, mw: Column, k: Column) =
          (col("doc_id") * 7 + (my * mw + mx) * 37 + k * 11) % 256
        def hx(c: Column) = lpad(hex(c), 2, "0")
        val mw = Round14.idiv(w, lit(16))
        val px = unhex(array_join(
          transform(sequence(lit(0L), h - 1), y => {
            val my = Round14.idiv(y, lit(16))
            array_join(
              transform(sequence(lit(0L), mw - 1), mx =>
                repeat(concat(hx(mcuVal(mx, my, mw, lit(0))),
                  hx(mcuVal(mx, my, mw, lit(1))),
                  hx(mcuVal(mx, my, mw, lit(2)))), 16)), "")
          }), ""))
        // bind the encode to its OWN projection: the corruption
        // surgery references the blob four times (2 substrings + 2
        // lengths), and without the binding each reference re-runs
        // the encoder (the q89/q346 expression-binding lesson —
        // measured 5.9 → ~2 s)
        val withJpg = graft.Tables.rebalance(
          t("documents")(s, dir).select(col("doc_id"), col("text")))
          .select(col("doc_id"), col("text"),
            graft.functions.Jpeg.jpegEncode420(w, h, px, lit(1))
              .as("jpg"))
        // bit rot: the two bytes before EOI become an invalid marker
        // (always inside the last restart segment's entropy data)
        val damaged = concat(
          substring(col("jpg"), lit(1), length(col("jpg")) - 4),
          lit(Array(0xFF.toByte, 0xC0.toByte)),
          substring(col("jpg"), length(col("jpg")) - 1, lit(2)))
        val payload = when(col("doc_id") % 7 === 6,
            graft.operators.Multimodal.syntheticPayload(col("text")))
          .otherwise(damaged)
        withJpg
          .withColumn("st",
            graft.functions.Jpeg.jpegStatsSalvage(payload))
          .select(col("doc_id"), col("st.width"), col("st.height"),
            col("st.n_pixels"), col("st.sum_c0"), col("st.sum_c1"),
            col("st.sum_c2"), col("st.sum_luma_milli"),
            col("st.corrupt_mcus"))
          .orderBy(col("doc_id"))
      },
      Some {
        import Round14.{oDcPipe, oRgbY, oRgbCb, oRgbCr, oYcc2R,
          oYcc2G, oYcc2B}
        def v(k: Int) =
          s"(doc_id * 7 + (my * (w // 16) + mx) * 37 + $k * 11) % 256"
        val (yc, cb, cr) = (oRgbY(v(0), v(1), v(2)),
          oRgbCb(v(0), v(1), v(2)), oRgbCr(v(0), v(1), v(2)))
        s"""WITH d AS (SELECT doc_id, (doc_id % 2 + 1) * 16 AS w,
           |    (doc_id % 3 + 1) * 16 AS h
           |  FROM documents WHERE doc_id % 7 <> 6),
           |mx0 AS (SELECT doc_id, w, h,
           |    unnest(generate_series(0, w // 16 - 1)) AS mx FROM d),
           |mcu AS (SELECT doc_id, w, h, mx,
           |    unnest(generate_series(0, h // 16 - 1)) AS my FROM mx0),
           |dcy AS (SELECT doc_id, w, h, mx, my,
           |    ${oDcPipe(yc, 16)} AS yq,
           |    ${oDcPipe(cb, 17)} AS cbq,
           |    ${oDcPipe(cr, 17)} AS crq
           |  FROM mcu),
           |outs AS (SELECT doc_id, w, h,
           |    CASE WHEN mx = w // 16 - 1 AND my = h // 16 - 1
           |      THEN 128 ELSE ${oYcc2R("yq", "crq")} END AS o0,
           |    CASE WHEN mx = w // 16 - 1 AND my = h // 16 - 1
           |      THEN 128 ELSE ${oYcc2G("yq", "cbq", "crq")} END AS o1,
           |    CASE WHEN mx = w // 16 - 1 AND my = h // 16 - 1
           |      THEN 128 ELSE ${oYcc2B("yq", "cbq")} END AS o2
           |  FROM dcy),
           |a AS (SELECT doc_id, 256 * SUM(o0) AS s0,
           |    256 * SUM(o1) AS s1, 256 * SUM(o2) AS s2
           |  FROM outs GROUP BY 1)
           |SELECT a.doc_id, CAST(d.w AS BIGINT) AS width,
           |  CAST(d.h AS BIGINT) AS height,
           |  CAST(d.w * d.h AS BIGINT) AS n_pixels,
           |  CAST(s0 AS BIGINT) AS sum_c0,
           |  CAST(s1 AS BIGINT) AS sum_c1,
           |  CAST(s2 AS BIGINT) AS sum_c2,
           |  CAST(299 * s0 + 587 * s1 + 114 * s2 AS BIGINT)
           |    AS sum_luma_milli,
           |  CAST(1 AS BIGINT) AS corrupt_mcus
           |FROM a JOIN d USING (doc_id)
           |UNION ALL
           |SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           |  NULL
           |FROM documents WHERE doc_id % 7 = 6
           |ORDER BY doc_id""".stripMargin
      }),

    // ---- ANN-index UPSERT (the fourth family — the upsert matrix
    // closes: TF q344, shingle q345, fingerprint spec, now IVF-PQ): a
    // re-crawled document gets a NEW embedding under the SAME id.
    // Build the q95 index on the full corpus, write it, deliver
    // vec_id%5=0 re-embedded (negated — exact in any float width, and
    // guaranteed to change cells), ONE upsert call: tombstone at
    // below_gen=g, encode against the FROZEN cells/codebook, append
    // codes at gen=g. Search ≡ a frozen-geometry index over the
    // post-re-embed corpus: the oracle replays the q87 chain with
    // cells/codebook seeded from the ORIGINAL vectors and every
    // assignment/code/query over the MUTATED corpus.
    QueryDef("q349_ann_upsert",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        val outDir = scratchDir(dir, "q349_annidx")
        graft.operators.Similarity.ivfPqIndex(emb, nCells = 8,
            dims = 64, m = 8, nCentroids = 16)
          .write(outDir.getAbsolutePath)
        val mutated = emb.withColumn("embedding",
          when(col("vec_id") % 5 === 0,
            transform(col("embedding"), x => -x))
            .otherwise(col("embedding")))
        graft.operators.Similarity.ivfPqFamily(dims = 64, m = 8).upsert(
          outDir.getAbsolutePath, mutated.where(col("vec_id") % 5 === 0))
        graft.operators.Similarity.ivfPqSearch(
            mutated.filter(col("vec_id") < 12),
            graft.operators.Similarity.IvfPqIndex.read(
              s, outDir.getAbsolutePath),
            k = 5, nprobe = 2, dims = 64, m = 8)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(
        s"""WITH e AS MATERIALIZED (SELECT vec_id,
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
           |ORDER BY query_id, rank""".stripMargin))
  )
}
