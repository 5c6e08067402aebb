package graft.queries

import graft.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Round-16 queries (q352+): progressive JPEG (SOF2) and the
  * streaming-upsert crawler lifecycle over the manifest-snapshot index
  * layer ([[graft.sink.IndexManifest]]).
  */
object Round16 {
  private def t(name: String): QueryFn =
    (s, dir) => Tables.load(s, dir, name)

  /** The q344/q345/q353 re-crawl mutation, restated for this round's
    * rows: doc_id%5=0 docs get this suffix appended. */
  private val recrawlSuffix = " recrawl revision fresh tokens"
  private val oMutatedDocs: String =
    "(SELECT doc_id, CASE WHEN doc_id % 5 = 0 " +
      s"THEN text || '$recrawlSuffix' ELSE text END AS text " +
      "FROM documents)"

  val defs: Seq[QueryDef] = Seq(

    // ---- STREAMING SHINGLE INGEST — the crawler's DEDUP index gets
    // the q353 discipline: the near-dup artifact streams as fresh as
    // the retrieval one. Seed corpus = doc%3=0 original text; epoch 0
    // upserts a batch mixing NEW docs (%3=1) and RE-CRAWLS (%15=0,
    // text changed); epoch 1's first delivery dies AFTER its shingle
    // facts landed and is REPLAYED in plain append mode (the
    // pending-epoch marker must route it through the upsert path —
    // a missed self-heal duplicates every (doc, shingle) row of %3=2
    // docs, corrupting intersection counts); a replay of committed
    // epoch 0 is skipped. The query emits every exact-Jaccard pair
    // ≥ 0.5 touching the streamed ids from the index's final state;
    // the oracle is the exhaustive pair set over a corpus REBUILT
    // with the mutated text, restricted to streamed-touching pairs —
    // stream-built ≡ batch rebuild, hash-gated.
    QueryDef("q355_shingle_stream_ingest",
      (s, dir) => {
        val outDir = scratchDir(dir, "q355_shidx")
        val p = outDir.getAbsolutePath
        val docs = t("documents")(s, dir)
        val mutated = docs.withColumn("text",
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(recrawlSuffix)))
            .otherwise(col("text")))
        graft.operators.Dedup.writeShingleIndex(
          docs.where(col("doc_id") % 3 === 0), p, n = 3,
          shingleBuckets = 16)
        val b0 = mutated.where(col("doc_id") % 3 === 1 ||
          (col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0))
        val sh = graft.operators.Dedup.shingleFamily()
        val ok0 = sh.ingestBatch(p, b0, 0L, upsert = true)
        require(ok0, "epoch 0 must ingest")
        // epoch 1 first delivery crashes after its facts append
        val b1 = mutated.where(col("doc_id") % 3 === 2)
        val m0 = graft.sink.IndexManifest.readOrInit(s, p)
        graft.sink.IndexManifest.commit(s, p,
          m0.copy(pendingEpoch = 1L))
        val g = graft.sink.IndexLayout.reserveGen(s, p)
        sh.appendFacts(p, b1, g)
        // the at-least-once replay (append mode) must self-heal
        val healed = sh.ingestBatch(p, b1, 1L, upsert = false)
        require(healed, "crashed epoch 1 must replay")
        val replayed = sh.ingestBatch(p, b0, 0L, upsert = true)
        require(!replayed, "replay guard failed to skip epoch 0")
        graft.operators.Dedup.jaccardPairsAgainstIndex(
            s, p, threshold = 0.5,
            mutated.where(col("doc_id") % 3 =!= 0 ||
              col("doc_id") % 5 === 0).select(col("doc_id")))
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
              |  AND (da % 3 <> 0 OR da % 5 = 0
              |    OR db % 3 <> 0 OR db % 5 = 0)
              |ORDER BY da, db""".stripMargin)),

    // ---- PROGRESSIVE JPEG (SOF2) — the last double-digit slice of
    // real crawled JPEGs the decoder nulled (r15 verdict #5). Spark
    // CONSTRUCTS progressive streams with the pinned scripts — the
    // minimal two-scan shape (DC first, then one full-precision AC
    // 1–63 scan per component) for doc%4>=2, and the web's actual
    // SUCCESSIVE-APPROXIMATION shape (DC at Al=1 + refinement, AC at
    // Al=1 + Ah=1 refinement) for doc%4<2 — and decodes them through
    // the new multi-scan state machine (EOB runs, correction bits,
    // coefficient accumulation across scans). Full-precision
    // progressive carries EXACTLY the baseline coefficients and SA's
    // two-stage coding is exact (first scan codes sign·(|v|≫1), the
    // refinement restores the low bit), so pixels are bit-identical
    // to baseline — the oracle is q334's closed form (block-constant
    // pixels quantize to DC-only) on this row's formula, with NO
    // JPEG-library anywhere. doc%7=6 carries a non-JPEG payload:
    // stats must be all-null, never a throw.
    QueryDef("q352_jpeg_progressive",
      (s, dir) => {
        val w = (col("doc_id") % 3 + 1) * 8
        val h = (col("doc_id") % 2 + 1) * 8
        val ch = when(col("doc_id") % 2 === 0, 1L).otherwise(3L)
        def hx(c: Column) = lpad(hex(c), 2, "0")
        def bv(bx: Column, by: Column, bw: Column, k: Int) =
          (col("doc_id") * 11 + (by * bw + bx) * 29 + lit(k) * 13) % 256
        val bw = Round14.idiv(w, lit(8))
        // block-constant pixels built as 8-fold repeats per block row
        // (the q346 hoisted-construction lesson)
        val px = unhex(array_join(
          transform(sequence(lit(0L), h - 1), y => {
            val by = Round14.idiv(y, lit(8))
            array_join(
              transform(sequence(lit(0L), bw - 1), bx =>
                when(ch === 1, repeat(hx(bv(bx, by, bw, 0)), 8))
                  .otherwise(repeat(concat(hx(bv(bx, by, bw, 0)),
                    hx(bv(bx, by, bw, 1)),
                    hx(bv(bx, by, bw, 2))), 8))), "")
          }), ""))
        val ri = col("doc_id") % 4 // per-scan restart interval; 0=none
        val jpg = when(col("doc_id") % 4 < 2,
            graft.functions.Jpeg.jpegEncodeProgressiveSa(w, h, ch, px,
              ri))
          .otherwise(
            graft.functions.Jpeg.jpegEncodeProgressive(w, h, ch, px,
              ri))
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
          s"(doc_id * 11 + (by * (w // 8) + bx) * 29 + $k * 13) % 256"
        val gOut = oDcPipe(v(0), 16)
        val (yc, cb, cr) = (oRgbY(v(0), v(1), v(2)),
          oRgbCb(v(0), v(1), v(2)), oRgbCr(v(0), v(1), v(2)))
        s"""WITH d AS (SELECT doc_id, (doc_id % 3 + 1) * 8 AS w,
           |    (doc_id % 2 + 1) * 8 AS h,
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
           |    64 * SUM(o2) AS s2
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
           |    AS sum_luma_milli
           |FROM a JOIN d USING (doc_id)
           |UNION ALL
           |SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           |  NULL
           |FROM documents WHERE doc_id % 7 = 6
           |ORDER BY doc_id""".stripMargin
      }),

    // ---- PROGRESSIVE 4:2:0 — the sampling real web progressive
    // JPEGs actually have (q352 pinned the scan machinery at 4:4:4;
    // this pins it COMPOSED with the subsampled geometry: interleaved
    // DC scans walk 2×2-Y MCUs, each AC scan walks its component's
    // OWN block grid, with per-scan restarts and both scripts).
    // MCU-constant pixels quantize to DC-only in all three components
    // (subsampling a constant is the constant), and full-precision /
    // SA progressive carries exactly the baseline 4:2:0 coefficients,
    // so the oracle is q346's closed form on this row's formula.
    QueryDef("q356_jpeg_progressive_420",
      (s, dir) => {
        val w = (col("doc_id") % 3 + 1) * 16
        val h = (col("doc_id") % 2 + 1) * 16
        val ri = col("doc_id") % 3 // per-scan restart interval; 0=none
        val sa = col("doc_id") % 2 === 0 // script per doc
        def mcuVal(mx: Column, my: Column, mw: Column, k: Column) =
          (col("doc_id") * 13 + (my * mw + mx) * 31 + k * 7) % 256
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
        val jpg = graft.functions.Jpeg.jpegEncodeProgressive420(
          w, h, px, ri, sa)
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
          s"(doc_id * 13 + (my * (w // 16) + mx) * 31 + $k * 7) % 256"
        val (yc, cb, cr) = (oRgbY(v(0), v(1), v(2)),
          oRgbCb(v(0), v(1), v(2)), oRgbCr(v(0), v(1), v(2)))
        s"""WITH d AS (SELECT doc_id, (doc_id % 3 + 1) * 16 AS w,
           |    (doc_id % 2 + 1) * 16 AS h
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

    // ---- PROGRESSIVE SALVAGE — the bit-rot story (q351) extended to
    // SOF2 streams: with per-scan restart intervals a flipped byte
    // costs ONE restart segment of ONE scan (the damaged segment's
    // coefficient writes roll back, so its blocks keep the previous
    // scans' approximation — never garbage), and without a recovery
    // point the rest of the SCAN drops while later scans still apply.
    // Spark constructs progressive streams (both scripts, ri=1) over
    // block-constant pixels and rots the two bytes before EOI into an
    // invalid marker — always the last restart marker + final unit of
    // the LAST scan (EOB-only units are exactly one byte each on
    // constant blocks). The lost contribution is that block's
    // all-zero AC band, so the salvaged pixels equal the CLEAN closed
    // form bit-for-bit and corrupt_mcus pins the damage to exactly
    // one (unit, scan) — the oracle proves both WHERE the damage
    // landed and that salvage destroyed nothing else. doc%7=6 carries
    // a non-JPEG payload: all-null, never a throw.
    QueryDef("q354_jpeg_progressive_salvage",
      (s, dir) => {
        val w = (col("doc_id") % 3 + 1) * 8
        val h = (col("doc_id") % 2 + 2) * 8 // ≥ 2 blocks always
        val ch = when(col("doc_id") % 2 === 0, 1L).otherwise(3L)
        def hx(c: Column) = lpad(hex(c), 2, "0")
        def bv(bx: Column, by: Column, bw: Column, k: Int) =
          (col("doc_id") * 5 + (by * bw + bx) * 43 + lit(k) * 17) % 256
        val bw = Round14.idiv(w, lit(8))
        val px = unhex(array_join(
          transform(sequence(lit(0L), h - 1), y => {
            val by = Round14.idiv(y, lit(8))
            array_join(
              transform(sequence(lit(0L), bw - 1), bx =>
                when(ch === 1, repeat(hx(bv(bx, by, bw, 0)), 8))
                  .otherwise(repeat(concat(hx(bv(bx, by, bw, 0)),
                    hx(bv(bx, by, bw, 1)),
                    hx(bv(bx, by, bw, 2))), 8))), "")
          }), ""))
        val jpgExpr = when(col("doc_id") % 4 < 2,
            graft.functions.Jpeg.jpegEncodeProgressiveSa(w, h, ch, px,
              lit(1)))
          .otherwise(
            graft.functions.Jpeg.jpegEncodeProgressive(w, h, ch, px,
              lit(1)))
        // bind the encode to its OWN projection — the surgery
        // references the blob four times (the q89/q346/q351 lesson)
        val withJpg = graft.Tables.rebalance(
          t("documents")(s, dir).select(col("doc_id"), col("text")))
          .select(col("doc_id"), col("text"), jpgExpr.as("jpg"))
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
            col("st.channels"), col("st.n_pixels"), col("st.sum_c0"),
            col("st.sum_c1"), col("st.sum_c2"),
            col("st.sum_luma_milli"), col("st.corrupt_mcus"))
          .orderBy(col("doc_id"))
      },
      Some {
        import Round14.{oDcPipe, oRgbY, oRgbCb, oRgbCr, oYcc2R,
          oYcc2G, oYcc2B}
        def v(k: Int) =
          s"(doc_id * 5 + (by * (w // 8) + bx) * 43 + $k * 17) % 256"
        val gOut = oDcPipe(v(0), 16)
        val (yc, cb, cr) = (oRgbY(v(0), v(1), v(2)),
          oRgbCb(v(0), v(1), v(2)), oRgbCr(v(0), v(1), v(2)))
        s"""WITH d AS (SELECT doc_id, (doc_id % 3 + 1) * 8 AS w,
           |    (doc_id % 2 + 2) * 8 AS h,
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
           |    64 * SUM(o2) AS s2
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
           |    AS sum_luma_milli,
           |  CAST(1 AS BIGINT) AS corrupt_mcus
           |FROM a JOIN d USING (doc_id)
           |UNION ALL
           |SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           |  NULL, NULL
           |FROM documents WHERE doc_id % 7 = 6
           |ORDER BY doc_id""".stripMargin
      }),

    // ---- ANN RETRAIN, trigger → action → serve, hash-gated (closes
    // the loop q347 opened, on the acceptance shape the r15 verdict
    // sketched: reuse the existing geometry oracle with NO extra
    // replay). The row lives the full operational story: build the
    // index FROZEN on the even half with its drift baseline, append
    // the odd half under yesterday's geometry (the drift q347 alerts
    // on — its ratio is computed in-row), take down a doc, then
    // RETRAIN over the live full corpus: one atomic manifest commit
    // swaps cells+codebook+codes+drift_meta+tombstones. Three things
    // are gated: the refreshed baseline must read EXACTLY 1.0M ppm
    // (require — a wrong drift_meta rewrite fails the row), the
    // takedown must be resurrected by the retrain (the caller passed
    // the full corpus; a lingering kill floor would exclude vec 3 and
    // hash-fail), and the served search must be BIT-IDENTICAL to a
    // fresh build over the same rows — which is exactly q87's
    // pipeline, so the oracle IS q87's (the q95 discipline), one
    // geometry replay, zero new SQL.
    QueryDef("q357_ann_retrain",
      (s, dir) => {
        import graft.operators.Similarity
        val outDir = scratchDir(dir, "q357_annrt")
        val p = outDir.getAbsolutePath
        val emb = t("embeddings")(s, dir)
        val even = emb.where(col("vec_id") % 2 === 0)
        val odd = emb.where(col("vec_id") % 2 === 1)
        Similarity.ivfPqIndex(even, nCells = 8, dims = 64, m = 8,
          nCentroids = 16).write(p)
        Similarity.writeIvfPqDriftBaseline(s, p, even, dims = 64,
          m = 8)
        val ivf = Similarity.ivfPqFamily(dims = 64, m = 8)
        ivf.append(p, odd)
        ivf.delete(p, odd.where(col("vec_id") === 3).select(col("vec_id")))
        // the trigger: the appended half's distortion under yesterday's
        // codebook (q347 measured 1.084M ppm on this exact split —
        // past the calibrated 1.04M alert threshold)
        Similarity.ivfPqDriftStats(s, p, odd, dims = 64, m = 8)
          .collect()
        // the action: retrain over the LIVE corpus, atomic swap
        Similarity.retrainIvfPqIndex(s, p, emb, nCells = 8, dims = 64,
          m = 8, nCentroids = 16)
        // the refreshed baseline must be exact
        val after = Similarity.ivfPqDriftStats(s, p, emb, dims = 64,
          m = 8).collect()(0).getLong(4)
        require(after == 1000000L,
          s"retrain did not reset the drift baseline: $after ppm")
        // serve from the swapped artifacts: ≡ a fresh q87 build
        Similarity.ivfPqSearch(emb.filter(col("vec_id") < 12),
            Similarity.IvfPqIndex.read(s, p), k = 5, nprobe = 2,
            dims = 64, m = 8)
          .orderBy(col("query_id"), col("rank"))
      },
      Round5.defs.find(_.name == "q87_ivfpq_topk").get.oracle),

    // ---- STREAMING UPSERT — the crawler lifecycle end to end (r15
    // verdict #7: q348's epoch discipline composed with q344's
    // re-crawl semantics), WITH the crash window inside the row: the
    // seed corpus is doc%3=0 at its ORIGINAL text; epoch 0 upserts a
    // micro-batch MIXING new docs (%3=1) and re-crawls (%15=0, text
    // changed); epoch 1's first delivery is simulated to die AFTER
    // its facts landed but BEFORE its commit (pending marker +
    // reserved generation + raw fact append — exactly
    // the TF family's ingestBatch prefix), then REPLAYED in plain APPEND
    // mode: the pending-epoch marker must route the replay through
    // the upsert path so the crashed attempt's facts die under the
    // replay's tombstones. A missed self-heal double-counts docs
    // %3=2 in tf/df/dl and shifts every BM25 score below; stale
    // re-crawl text serving fails the recrawl-token queries — both
    // hash-gated. The oracle is exhaustive BM25 over the final
    // mutated corpus (all docs, %5=0 re-crawled), which is also the
    // proof that stream-built ≡ batch-rebuilt.
    QueryDef("q353_tf_stream_upsert",
      (s, dir) => {
        val outDir = scratchDir(dir, "q353_tfidx")
        val p = outDir.getAbsolutePath
        val docs = t("documents")(s, dir)
        val suffix = " recrawl revision fresh tokens"
        val mutated = docs.withColumn("text",
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(suffix))).otherwise(col("text")))
        graft.operators.Retrieval.writeTfIndex(
          docs.where(col("doc_id") % 3 === 0), p, wordBuckets = 16)
        // epoch 0: new docs + re-crawls of seed docs, one batch
        val b0 = mutated.where(col("doc_id") % 3 === 1 ||
          (col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0))
        val tf = graft.operators.Retrieval.tfFamily()
        val ok0 = tf.ingestBatch(p, b0, 0L, upsert = true)
        require(ok0, "epoch 0 must ingest")
        // epoch 1 first delivery CRASHES after its facts append —
        // simulate by running ingestBatch's exact prefix
        val b1 = mutated.where(col("doc_id") % 3 === 2)
        val m0 = graft.sink.IndexManifest.readOrInit(s, p)
        graft.sink.IndexManifest.commit(s, p,
          m0.copy(pendingEpoch = 1L))
        val g = graft.sink.IndexLayout.reserveGen(s, p)
        tf.appendFacts(p, b1, g)
        // the at-least-once replay (append mode!) must self-heal
        val healed = tf.ingestBatch(p, b1, 1L, upsert = false)
        require(healed, "crashed epoch 1 must replay")
        // and a replay of the committed epoch 0 must be skipped
        val replayed = tf.ingestBatch(p, b0, 0L, upsert = true)
        require(!replayed, "replay guard failed to skip epoch 0")
        graft.operators.Retrieval.bm25TopKFromTfIndex(
          s, p, Round15.upsertQueries, k = 10)
      },
      Some(s"""WITH ${graft.operators.Retrieval.bm25OracleCtes(
                Round15.upsertQueries
                  .map { case (q, x) => s"($q, '$x')" }.mkString(", "),
                1.2, 0.75,
                docsFrom = "(SELECT doc_id, CASE WHEN doc_id % 5 = 0" +
                  " THEN text || ' recrawl revision fresh tokens'" +
                  " ELSE text END AS text FROM documents)")},
              |r AS (SELECT query_id, doc_id, score,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY score DESC, doc_id) AS rnk
              |  FROM sc)
              |SELECT query_id, doc_id, score,
              |  CAST(rnk AS BIGINT) AS rank
              |FROM r WHERE rnk <= 10
              |ORDER BY query_id, rank""".stripMargin))
  )
}
