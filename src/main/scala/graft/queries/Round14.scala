package graft.queries

import graft.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Round-14 queries (q331+): the index-lifecycle round — incremental
  * dedup (persisted shingle index with parquet-append ingest), TF-index
  * tombstone deletion, small-file compaction through the append path,
  * plus the baseline-JPEG rung of the multimodal ladder, a streaming
  * quantile twin, and the unigram shrink ladder / raw-text serving.
  */
object Round14 {
  private def t(name: String): QueryFn =
    (s, dir) => Tables.load(s, dir, name)

  // ---- q334/q335 oracle helpers: SQL replay of the PINNED JPEG
  // arithmetic (graft.functions.JpegMath — divR is `(x + half) >> n`,
  // an arithmetic shift in both engines; quantR is sign-biased
  // TRUNCATING division, `//` in DuckDB and Java `/` in the kernel).
  private[queries] def oDivR(x: String, n: Int): String =
    s"((($x) + ${1L << (n - 1)}) >> $n)"
  private[queries] def oQuantR(x: String, q: Int): String =
    s"((($x) + CASE WHEN ($x) >= 0 THEN ${q / 2} " +
      s"ELSE ${-(q / 2)} END) // $q)"
  private[queries] def oClamp(x: String): String =
    s"GREATEST(0, LEAST(255, $x))"
  /** Closed-form DC pipeline for a constant block value `v`
    * (quantization step `q`): fdct → quant → dequant → idct → +128,
    * every stage the kernel's pinned arithmetic. */
  private[queries] def oDcPipe(v: String, q: Int): String = {
    val s = s"(($v) - 128)"
    val r1 = oDivR(s"$s * 65536 * 5793", 13)
    val f = oDivR(s"$r1 * 65536 * 5793", 41)
    val dq = s"(${oQuantR(f, q)} * $q)"
    val r2 = oDivR(s"$dq * 5793 * 5793 * 8192", 26)
    oClamp(s"${oDivR(s"$r2 * 8192", 28)} + 128")
  }
  private[queries] def oRgbY(r: String, g: String, b: String): String =
    oClamp(s"(299 * ($r) + 587 * ($g) + 114 * ($b) + 500) // 1000")
  private[queries] def oRgbCb(r: String, g: String, b: String): String =
    oClamp(s"128 + ${oQuantR(
      s"-169 * ($r) - 331 * ($g) + 500 * ($b)", 1000)}")
  private[queries] def oRgbCr(r: String, g: String, b: String): String =
    oClamp(s"128 + ${oQuantR(
      s"500 * ($r) - 419 * ($g) - 81 * ($b)", 1000)}")
  private[queries] def oYcc2R(y: String, cr: String): String =
    oClamp(s"($y) + ${oQuantR(s"1402 * (($cr) - 128)", 1000)}")
  private[queries] def oYcc2G(y: String, cb: String, cr: String): String =
    oClamp(s"($y) - ${oQuantR(
      s"344 * (($cb) - 128) + 714 * (($cr) - 128)", 1000)}")
  private[queries] def oYcc2B(y: String, cb: String): String =
    oClamp(s"($y) + ${oQuantR(s"1772 * (($cb) - 128)", 1000)}")

  /** JPEG block-constant pixel byte formula, shared by the Spark
    * construction and the oracle:
    * v(doc, bx, by, k) = (doc_id·7 + (by·bw + bx)·37 + k·11) % 256. */
  private def jpegBlockVal(bx: Column, by: Column, bw: Column,
      k: Column): Column =
    (col("doc_id") * 7 + (by * bw + bx) * 37 + k * 11) % 256

  /** Integer division on small nonnegative longs (Column `/` is
    * double division; doubles are exact far past these magnitudes). */
  private[queries] def idiv(a: Column, b: Column): Column =
    floor(a / b).cast("long")

  private def jpegConstPixels(w: Column, h: Column, ch: Column): Column =
    unhex(array_join(
      transform(sequence(lit(0L), w * h * ch - 1), i => {
        val p = idiv(i, ch)
        val x = p % w
        val y = idiv(p, w)
        lpad(hex(jpegBlockVal(idiv(x, lit(8)), idiv(y, lit(8)),
          idiv(w, lit(8)), i % ch)), 2, "0")
      }), ""))

  /** q319's pixel formula `(doc_id·7 + i·(13 + doc_id%97)) % 256` as
    * bytes — shared by the q335/q340 constructions. */
  private def formulaPixels(n: Column): Column =
    unhex(array_join(
      transform(sequence(lit(0L), n - 1), i =>
        lpad(hex((col("doc_id") * 7 +
          i * (lit(13) + col("doc_id") % 97)) % 256), 2, "0")), ""))

  val defs: Seq[QueryDef] = Seq(

    // ---- INCREMENTAL near-dup dedup end to end (the q330 append
    // discipline applied to the dedup family — the r13 verdict's #1):
    // build the shingle index on doc_id%4≠3, parquet-APPEND the %4=3
    // increment (shingling ONLY the increment — yesterday's corpus
    // text is never re-tokenized), then emit every exact-Jaccard pair
    // ≥ 0.5 TOUCHING the increment from the index's current state.
    // Global rarest-first prefix ranks are recomputed at read over the
    // stored 2-long postings (the idf-at-read trade); PPJoin pruning
    // is lossless, so the oracle is the EXHAUSTIVE full-corpus pair
    // set restricted to increment-touching pairs — a green hash proves
    // build∘append∘query ≡ full rebuild on exactly the pairs a daily
    // ingest run must report.
    QueryDef("q331_jaccard_incremental",
      (s, dir) => {
        val outDir = scratchDir(dir, "q331_shidx")
        val docs = t("documents")(s, dir)
        graft.operators.Dedup.writeShingleIndex(
          docs.where(col("doc_id") % 4 =!= 3),
          outDir.getAbsolutePath, n = 3, shingleBuckets = 16)
        val inc = docs.where(col("doc_id") % 4 === 3)
        graft.operators.Dedup.shingleFamily().append(
          outDir.getAbsolutePath, inc)
        graft.operators.Dedup.jaccardPairsAgainstIndex(
            s, outDir.getAbsolutePath, threshold = 0.5,
            inc.select(col("doc_id")))
          .orderBy(col("da"), col("db"))
      },
      Some(s"""WITH ${CorpusOps.oShinglesSql},
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
              |  AND (da % 4 = 3 OR db % 4 = 3)
              |ORDER BY da, db""".stripMargin)),

    // ---- dedup-index DELETION (the takedown/GDPR twin of q332 on
    // the shingle index — a takedown must also stop the removed docs
    // from ever matching future ingest): build on doc_id%4≠3, append
    // the %4=3 increment, tombstone doc_id%5=4 (ids on BOTH sides of
    // the split — deletes must hit corpus and fresh ingest alike),
    // then emit increment-touching pairs. The read anti-joins
    // tombstones BEFORE ranking, so prefix ranks and pair sets
    // recompute as if the docs never existed; the oracle is the
    // exhaustive pair set over a corpus REBUILT without them.
    QueryDef("q339_jaccard_delete",
      (s, dir) => {
        val outDir = scratchDir(dir, "q339_shidx")
        val docs = t("documents")(s, dir)
        graft.operators.Dedup.writeShingleIndex(
          docs.where(col("doc_id") % 4 =!= 3),
          outDir.getAbsolutePath, n = 3, shingleBuckets = 16)
        val inc = docs.where(col("doc_id") % 4 === 3)
        graft.operators.Dedup.shingleFamily().append(
          outDir.getAbsolutePath, inc)
        graft.operators.Dedup.shingleFamily().delete(
          outDir.getAbsolutePath,
          docs.where(col("doc_id") % 5 === 4).select(col("doc_id")))
        graft.operators.Dedup.jaccardPairsAgainstIndex(
            s, outDir.getAbsolutePath, threshold = 0.5,
            inc.select(col("doc_id")))
          .orderBy(col("da"), col("db"))
      },
      Some(s"""WITH w AS (SELECT doc_id,
              |    list_filter(string_split_regex(lower(text), '\\s+'),
              |      x -> len(x) > 0) AS ws
              |  FROM documents WHERE doc_id % 5 <> 4),
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
              |  AND (da % 4 = 3 OR db % 4 = 3)
              |ORDER BY da, db""".stripMargin)),

    // ---- TF-index tombstone DELETION (the takedown/GDPR operation
    // the r13 verdict ranked #2 — ingest-only appends can't forget):
    // build the TF index on the FULL corpus, tombstone doc_id%3=2
    // (logical delete: one parquet append of ids), query. The read
    // anti-joins tombstones from postings AND dl before anything
    // aggregates, so idf/avgdl/df recompute as if the docs never
    // existed — the oracle is exhaustive BM25 over a corpus REBUILT
    // WITHOUT those docs, and the green hash proves delete ≡ rebuild
    // bit-identically (RetrievalSpec adds purge ≡ logical and
    // delete∘append commutation).
    QueryDef("q332_bm25_delete",
      (s, dir) => {
        val outDir = scratchDir(dir, "q332_tfidx")
        val docs = t("documents")(s, dir)
        graft.operators.Retrieval.writeTfIndex(
          docs, outDir.getAbsolutePath, wordBuckets = 16)
        graft.operators.Retrieval.tfFamily().delete(
          outDir.getAbsolutePath,
          docs.where(col("doc_id") % 3 === 2).select(col("doc_id")))
        graft.operators.Retrieval.bm25TopKFromTfIndex(
          s, outDir.getAbsolutePath, Round13.incrementalQueries, k = 10)
      },
      Some(s"""WITH ${graft.operators.Retrieval.bm25OracleCtes(
                Round13.incrementalQueries
                  .map { case (q, x) => s"($q, '$x')" }.mkString(", "),
                1.2, 0.75, docsWhere = "doc_id % 3 <> 2")},
              |r AS (SELECT query_id, doc_id, score,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY score DESC, doc_id) AS rnk
              |  FROM sc)
              |SELECT query_id, doc_id, score,
              |  CAST(rnk AS BIGINT) AS rank
              |FROM r WHERE rnk <= 10
              |ORDER BY query_id, rank""".stripMargin)),

    // ---- small-file COMPACTION through the append path (the classic
    // 100 TB ingest failure mode: N daily appends leave one file per
    // bucket per day): build on doc_id%3=0, append %3=1, append %3=2
    // — three files per touched bucket — then the TF family's compact
    // rewrites the postings tree + the docs table into new versions
    // committed by pointer, and the query runs against the COMPACTED
    // index.
    // Oracle = exhaustive full-corpus BM25: the green hash proves
    // bit-identity through compaction (RetrievalSpec asserts the file
    // counts actually shrank — a no-op "compaction" would hash green
    // too).
    QueryDef("q333_bm25_compaction",
      (s, dir) => {
        val outDir = scratchDir(dir, "q333_tfidx")
        val docs = t("documents")(s, dir)
        graft.operators.Retrieval.writeTfIndex(
          docs.where(col("doc_id") % 3 === 0),
          outDir.getAbsolutePath, wordBuckets = 16)
        val tf = graft.operators.Retrieval.tfFamily()
        tf.append(
          outDir.getAbsolutePath, docs.where(col("doc_id") % 3 === 1))
        tf.append(
          outDir.getAbsolutePath, docs.where(col("doc_id") % 3 === 2))
        tf.compact(s, outDir.getAbsolutePath)
        graft.operators.Retrieval.bm25TopKFromTfIndex(
          s, outDir.getAbsolutePath, Round13.incrementalQueries, k = 10)
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

    // ---- streaming windowed quantiles, batch twin (the q272/q322
    // discipline applied to the q326 KLL family): the SAME pipeline
    // shape [[EventStreams.windowedQuantileSketch]] runs incrementally
    // — event-time tumbling day windows, per-window KLL(k=128) over
    // the cent values merged through the state store — computed in
    // batch and gated by the q326 envelope: Σweight = n EXACTLY, O(k)
    // retained items, p50's true rank error within 3%. The concrete
    // estimate is merge-order-dependent (the honest KLL lesson), so
    // the row gates the deterministic surface; EventStreamsSpec pins
    // the micro-batch state-store merge to the same envelope on the
    // same rows.
    QueryDef("q336_stream_kll_twin",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val k = 128
        val ev = t("events")(s, dir)
          .select(window(col("ts"), "1 day")("start").cast("date")
            .as("day"),
            (col("value").cast("decimal(12,2)") * 100)
              .cast("long").as("v"))
        val sk = ev.groupBy(col("day"))
          .agg(graft.functions.KllAgg.kll(col("v"), k).as("s"))
          .select(col("day"), size(col("s")).as("n_items"),
            explode(col("s")).as("x"))
          .select(col("day"), col("n_items"), col("x.item"),
            col("x.weight"))
        val wC = Window.partitionBy(col("day")).orderBy(col("item"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val est = sk.withColumn("cum", sum(col("weight")).over(wC))
          .withColumn("wsum",
            sum(col("weight")).over(Window.partitionBy(col("day"))))
          .where(col("cum") >= expr("(wsum + 1) div 2"))
          .groupBy(col("day"))
          .agg(min(col("item")).as("est_p50"),
            max(col("wsum")).as("w_total"),
            max(col("n_items")).as("n_items"))
        val ng = ev.groupBy(col("day")).agg(count(lit(1)).as("n"))
        val dv = ev.groupBy(col("day"), col("v"))
          .agg(count(lit(1)).as("c"))
        val cum = dv.withColumn("cum", sum(col("c")).over(
            Window.partitionBy(col("day")).orderBy(col("v"))
              .rowsBetween(Window.unboundedPreceding, 0)))
          .join(broadcast(ng), Seq("day"))
        val exact = cum.where(col("cum") >= expr("(n + 1) div 2"))
          .groupBy(col("day"))
          .agg(min(col("v")).as("exact_p50"), max(col("n")).as("n"))
        val rankEst = cum.join(est, Seq("day"))
          .where(col("v") <= col("est_p50"))
          .groupBy(col("day"))
          .agg(max(col("cum")).as("rank_est"))
        est.join(exact, Seq("day")).join(rankEst, Seq("day"))
          .select(col("day"), col("n"), col("exact_p50"),
            (col("w_total") === col("n")).as("weight_conserved"),
            (col("n_items") <= lit(3 * k + 64)).as("space_bounded"),
            (expr("(abs(rank_est * 2 - n) * 1000000) div (2 * n)")
              <= 30000L).as("kll_within_bound"))
          .orderBy(col("day"))
      },
      Some("""WITH ev AS (SELECT CAST(date_trunc('day', ts) AS DATE)
             |    AS day,
             |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
             |      AS v FROM events),
             |ng AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n FROM ev
             |  GROUP BY 1),
             |dv AS (SELECT day, v, COUNT(*) AS c FROM ev GROUP BY 1, 2),
             |cum AS (SELECT day, v,
             |    SUM(c) OVER (PARTITION BY day ORDER BY v
             |      ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM dv),
             |ex AS (SELECT cum.day, MIN(v) AS exact_p50
             |  FROM cum JOIN ng USING (day)
             |  WHERE cum >= (n + 1) // 2 GROUP BY 1)
             |SELECT ng.day, ng.n, ex.exact_p50,
             |  TRUE AS weight_conserved,
             |  TRUE AS space_bounded,
             |  TRUE AS kll_within_bound
             |FROM ng JOIN ex USING (day)
             |ORDER BY ng.day""".stripMargin)),

    // ---- baseline JPEG round-trip, DC-only multi-block (the q319
    // parse∘construct discipline on the codec the r13 verdict asked
    // for): Spark BUILDS real baseline JFIF JPEGs — block-constant
    // pixels (every 8×8 block one formula value per channel, so the
    // pinned staged DCT provably yields DC-only blocks: the 2^13
    // cosine table's u≥1 row sums are exactly 0), grayscale for even
    // docs and YCbCr 4:4:4 color for odd — then decodes them back
    // with the native Huffman+IDCT kernel and reports exact channel
    // sums. The whole ENTROPY layer is exercised for real (DC delta
    // prediction across blocks, EOB runs, byte stuffing, DHT-driven
    // canonical tables); the oracle replays the closed-form DC
    // pipeline per block — a green hash proves decode∘encode on real
    // JPEG streams matches the pinned arithmetic for every (size,
    // channels, value) combination in the corpus. doc_id%7=6 rows
    // carry raw text bytes and must yield all nulls.
    QueryDef("q334_jpeg_roundtrip",
      (s, dir) => {
        val w = (col("doc_id") % 2 + 1) * 8
        val h = (col("doc_id") % 3 + 1) * 8
        val ch = when(col("doc_id") % 2 === 0, 1L).otherwise(3L)
        val jpg = graft.functions.Jpeg.jpegEncode(w, h, ch,
          jpegConstPixels(w, h, ch))
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
        def v(k: Int) =
          s"(doc_id * 7 + (by * (w // 8) + bx) * 37 + $k * 11) % 256"
        val gOut = oDcPipe(v(0), 16)
        val (yc, cb, cr) = (oRgbY(v(0), v(1), v(2)),
          oRgbCb(v(0), v(1), v(2)), oRgbCr(v(0), v(1), v(2)))
        s"""WITH d AS (SELECT doc_id, (doc_id % 2 + 1) * 8 AS w,
           |    (doc_id % 3 + 1) * 8 AS h,
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
           |    64 * SUM(o2) AS s2, COUNT(*) AS nblk
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

    // ---- baseline JPEG with FULL AC content — the staged-integer
    // DCT proven coefficient by coefficient: one 8×8 grayscale block
    // per doc from the q319 pixel formula (doc-dependent slope →
    // every frequency populated), encoded and decoded by the kernel;
    // the oracle replays the ENTIRE pinned pipeline in SQL — both
    // 2D DCT stages against the inlined 2^13 cosine table, Annex-K
    // quantization with the sign-biased truncating div, dequant, both
    // IDCT stages, clamp — so the green hash pins all 64 paths
    // through fdctQuant/dequantIdct plus the AC Huffman run-length
    // layer (ZRL, EOB, magnitude categories) that carries them.
    QueryDef("q335_jpeg_dct_exact",
      (s, dir) => {
        val n = lit(64L)
        val px = unhex(array_join(
          transform(sequence(lit(0L), n - 1), i =>
            lpad(hex((col("doc_id") * 7 +
              i * (lit(13) + col("doc_id") % 97)) % 256), 2, "0")), ""))
        val jpg = graft.functions.Jpeg.jpegEncode(lit(8), lit(8),
          lit(1), px)
        val payload = when(col("doc_id") % 7 === 6,
            graft.operators.Multimodal.syntheticPayload(col("text")))
          .otherwise(jpg)
        graft.Tables.rebalance(t("documents")(s, dir)
            .select(col("doc_id"), col("text")))
          .withColumn("st", graft.functions.Jpeg.jpegStats(payload))
          .select(col("doc_id"), col("st.width"), col("st.height"),
            col("st.n_pixels"), col("st.sum_c0"),
            col("st.sum_luma_milli"))
          .orderBy(col("doc_id"))
      },
      Some {
        val cosValues = (for (u <- 0 until 8; x <- 0 until 8)
          yield s"($u, $x, ${graft.functions.JpegMath.Cos(u)(x)})")
          .mkString(", ")
        val qtValues = (for (v <- 0 until 8; u <- 0 until 8)
          yield s"($u, $v, ${graft.functions.JpegMath.QLuma(v * 8 + u)})")
          .mkString(", ")
        s"""WITH ct(u, x, c) AS (VALUES $cosValues),
           |qt(u, v, q) AS (VALUES $qtValues),
           |px AS (SELECT doc_id, i % 8 AS x, i // 8 AS y,
           |    (doc_id * 7 + i * (13 + doc_id % 97)) % 256 - 128 AS s
           |  FROM (SELECT doc_id, unnest(generate_series(0, 63)) AS i
           |    FROM documents WHERE doc_id % 7 <> 6)),
           |st1 AS (SELECT doc_id, ct.u, px.y,
           |    ${oDivR(
              "SUM(px.s * ct.c) * (CASE WHEN ct.u = 0 THEN 5793 " +
                "ELSE 8192 END)", 13)} AS r1
           |  FROM px JOIN ct ON ct.x = px.x
           |  GROUP BY 1, 2, 3),
           |st2 AS (SELECT doc_id, st1.u, ct.u AS v,
           |    ${oDivR(
              "SUM(st1.r1 * ct.c) * (CASE WHEN ct.u = 0 THEN 5793 " +
                "ELSE 8192 END)", 41)} AS f
           |  FROM st1 JOIN ct ON ct.x = st1.y
           |  GROUP BY 1, 2, 3),
           |qc AS (SELECT doc_id, u, v,
           |    (f + CASE WHEN f >= 0 THEN q // 2
           |      ELSE -(q // 2) END) // q * q AS dq
           |  FROM st2 JOIN qt USING (u, v)),
           |m1 AS (SELECT doc_id, u, v,
           |    dq * (CASE WHEN u = 0 THEN 5793 ELSE 8192 END)
           |       * (CASE WHEN v = 0 THEN 5793 ELSE 8192 END) AS m
           |  FROM qc),
           |it1 AS (SELECT doc_id, ct.x, m1.v,
           |    ${oDivR("SUM(m1.m * ct.c)", 26)} AS r2
           |  FROM m1 JOIN ct ON ct.u = m1.u
           |  GROUP BY 1, 2, 3),
           |it2 AS (SELECT doc_id, it1.x, ct.x AS y,
           |    ${oClamp(oDivR("SUM(it1.r2 * ct.c)", 28) + " + 128")}
           |      AS o
           |  FROM it1 JOIN ct ON ct.u = it1.v
           |  GROUP BY 1, 2, 3),
           |a AS (SELECT doc_id, SUM(o) AS s0 FROM it2 GROUP BY 1)
           |SELECT doc_id, CAST(8 AS BIGINT) AS width,
           |  CAST(8 AS BIGINT) AS height,
           |  CAST(64 AS BIGINT) AS n_pixels,
           |  CAST(s0 AS BIGINT) AS sum_c0,
           |  CAST(1000 * s0 AS BIGINT) AS sum_luma_milli
           |FROM a
           |UNION ALL
           |SELECT doc_id, NULL, NULL, NULL, NULL, NULL
           |FROM documents WHERE doc_id % 7 = 6
           |ORDER BY doc_id""".stripMargin
      }),

    // ---- mixed-format corpus QA — the 100 TB blob-column reality: a
    // corpus where a third of the payloads are real deflated RGB
    // PNGs, a third real baseline grayscale JPEGs, and a third
    // garbage, run through ONE pipeline: container probe
    // (MediaProbeKernel) → per-format decode DISPATCH (pngStats /
    // jpegStats / nulls) → unified QA frame. Every branch is a
    // previously-gated kernel; what this row gates is the
    // COMPOSITION — the probe's format decides which decoder runs,
    // and the decoded dims/sums must match each format's pinned
    // arithmetic. Still one map-side scan: the dispatch is a CASE
    // over kernel expressions, no join, no shuffle.
    QueryDef("q340_mixed_media_qa",
      (s, dir) => {
        val pw = col("doc_id") % 10 + 6
        val ph = col("doc_id") % 7 + 5
        val jh = (col("doc_id") % 2 + 1) * 8
        val payload = when(col("doc_id") % 3 === 0,
            graft.functions.Png.pngEncode(pw, ph, lit(3),
              formulaPixels(pw * ph * 3)))
          .when(col("doc_id") % 3 === 1,
            graft.functions.Jpeg.jpegEncode(lit(8), jh, lit(1),
              jpegConstPixels(lit(8L), jh, lit(1L))))
          .otherwise(
            graft.operators.Multimodal.syntheticPayload(col("text")))
        val probed = graft.Tables.rebalance(t("documents")(s, dir)
            .select(col("doc_id"), col("text")))
          .withColumn("p", payload)
          .withColumn("meta", graft.functions.MediaProbe.probeMeta(col("p")))
        probed
          .withColumn("st",
            when(col("meta.format") === "png",
              graft.functions.Png.pngStats(col("p")))
            .when(col("meta.format") === "jpeg",
              graft.functions.Jpeg.jpegStats(col("p"))))
          .select(col("doc_id"), col("meta.format").as("format"),
            col("st.width"), col("st.height"), col("st.channels"),
            col("st.n_pixels"), col("st.sum_c0"), col("st.sum_c1"),
            col("st.sum_c2"), col("st.sum_luma_milli"))
          .orderBy(col("doc_id"))
      },
      Some {
        val jv = "(doc_id * 7 + by * 37) % 256"
        s"""WITH png AS (SELECT doc_id, doc_id % 10 + 6 AS w,
           |    doc_id % 7 + 5 AS h
           |  FROM documents WHERE doc_id % 3 = 0),
           |ppx AS (SELECT doc_id, w, h,
           |    unnest(generate_series(0,
           |      CAST(w * h * 3 - 1 AS BIGINT))) AS i FROM png),
           |pv AS (SELECT doc_id, w, h, i % 3 AS k,
           |    (doc_id * 7 + i * (13 + doc_id % 97)) % 256 AS v
           |  FROM ppx),
           |pa AS (SELECT doc_id, MAX(w) AS w, MAX(h) AS h,
           |    SUM(CASE WHEN k = 0 THEN v ELSE 0 END) AS s0,
           |    SUM(CASE WHEN k = 1 THEN v ELSE 0 END) AS s1,
           |    SUM(CASE WHEN k = 2 THEN v ELSE 0 END) AS s2
           |  FROM pv GROUP BY doc_id),
           |prow AS (SELECT doc_id, 'png' AS format,
           |    CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           |    CAST(3 AS BIGINT) AS channels,
           |    CAST(w * h AS BIGINT) AS n_pixels,
           |    CAST(s0 AS BIGINT) AS sum_c0,
           |    CAST(s1 AS BIGINT) AS sum_c1,
           |    CAST(s2 AS BIGINT) AS sum_c2,
           |    CAST(299 * s0 + 587 * s1 + 114 * s2 AS BIGINT)
           |      AS sum_luma_milli
           |  FROM pa),
           |jpg AS (SELECT doc_id, (doc_id % 2 + 1) AS nblk
           |  FROM documents WHERE doc_id % 3 = 1),
           |jb AS (SELECT doc_id, nblk,
           |    unnest(generate_series(0, nblk - 1)) AS by FROM jpg),
           |jo AS (SELECT doc_id, nblk, ${oDcPipe(jv, 16)} AS o
           |  FROM jb),
           |ja AS (SELECT doc_id, MAX(nblk) AS nblk,
           |    64 * SUM(o) AS s0 FROM jo GROUP BY doc_id),
           |jrow AS (SELECT doc_id, 'jpeg' AS format,
           |    CAST(8 AS BIGINT) AS width,
           |    CAST(8 * nblk AS BIGINT) AS height,
           |    CAST(1 AS BIGINT) AS channels,
           |    CAST(64 * nblk AS BIGINT) AS n_pixels,
           |    CAST(s0 AS BIGINT) AS sum_c0,
           |    CAST(NULL AS BIGINT) AS sum_c1,
           |    CAST(NULL AS BIGINT) AS sum_c2,
           |    CAST(1000 * s0 AS BIGINT) AS sum_luma_milli
           |  FROM ja)
           |SELECT * FROM prow
           |UNION ALL SELECT * FROM jrow
           |UNION ALL
           |SELECT doc_id, 'unknown', NULL, NULL, NULL, NULL, NULL,
           |  NULL, NULL, NULL
           |FROM documents WHERE doc_id % 3 = 2
           |ORDER BY doc_id""".stripMargin
      }),

    // ---- incremental SUBSTRING dedup (the q331 append discipline on
    // the OTHER dedup granularity — q86's winnowed fingerprints):
    // build the fingerprint index on doc_id%4≠3, append the %4=3
    // increment (the per-character md5 winnow kernel — the most
    // expensive kernel in Dedup — runs over the increment ONLY), then
    // emit shared-substring candidate pairs touching the increment.
    // Oracle = q86's exhaustive pair set restricted to
    // increment-touching pairs: build∘append∘query ≡ full re-winnow.
    QueryDef("q343_substring_incremental",
      (s, dir) => {
        val outDir = scratchDir(dir, "q343_fpidx")
        val docs = t("documents")(s, dir)
        graft.operators.Dedup.writeFingerprintIndex(
          docs.where(col("doc_id") % 4 =!= 3),
          outDir.getAbsolutePath, k = 25, w = 10, fpBuckets = 16)
        val inc = docs.where(col("doc_id") % 4 === 3)
        graft.operators.Dedup.fingerprintFamily().append(
          outDir.getAbsolutePath, inc)
        graft.operators.Dedup.substringCandidatesAgainstIndex(
            s, outDir.getAbsolutePath, minShared = 2,
            inc.select(col("doc_id")))
          .orderBy(col("da"), col("db"))
      },
      Some("""WITH nrm AS (SELECT doc_id, array_to_string(list_filter(
             |    string_split_regex(lower(text), '\s+'),
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
             |WHERE shared >= 2 AND (da % 4 = 3 OR db % 4 = 3)
             |ORDER BY da, db""".stripMargin)),

    // ---- ANN-index DELETION — the takedown lifecycle completed on
    // the THIRD persisted index family (TF q332, shingle q339, now
    // IVF-PQ): build the q95 index on the full corpus, write it,
    // tombstone vec_id%4=1, read + search. Cells and codebook stay
    // FROZEN (the append contract — FAISS remove_ids semantics: a
    // deleted vector stops being a candidate; the quantizer is not
    // "un-trained"), so the oracle is q87's VERBATIM with one change:
    // deleted ids are excluded from the candidate sums. Queries still
    // include deleted ids — a removed document may still be a QUERY
    // (more-like-this on a takedown target), it just can't be
    // returned.
    QueryDef("q341_ann_delete",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        val outDir = scratchDir(dir, "q341_annidx")
        graft.operators.Similarity.ivfPqIndex(emb, nCells = 8,
            dims = 64, m = 8, nCentroids = 16)
          .write(outDir.getAbsolutePath)
        graft.operators.Similarity.ivfPqFamily(dims = 64, m = 8).delete(
          outDir.getAbsolutePath,
          emb.where(col("vec_id") % 4 === 1).select(col("vec_id")))
        val index = graft.operators.Similarity.IvfPqIndex.read(
          s, outDir.getAbsolutePath)
        graft.operators.Similarity.ivfPqSearch(
            emb.filter(col("vec_id") < 12), index,
            k = 5, nprobe = 2, dims = 64, m = 8)
          .orderBy(col("query_id"), col("rank"))
      },
      Some {
        val base = Round5.defs.find(_.name == "q87_ivfpq_topk")
          .get.oracle.get
        val anchor = "WHERE p.query_id != c.id"
        require(base.contains(anchor),
          "q87 oracle anchor moved — update q341's exclusion")
        base.replace(anchor, anchor + " AND c.id % 4 != 1")
      }),

    // ---- ANN index AGING measured in-catalog (the q325 calibration
    // discipline applied to the append contract's documented caveat:
    // "quantization error drifts as the distribution moves —
    // re-train on your cadence"): build the IVF-PQ index on the EVEN
    // half, parquet-append the odd half against the FROZEN
    // cells/codebook, and measure exact-top-1 recall@5 side by side
    // with an index RE-TRAINED on the full corpus. The row reports
    // the number a retraining-cadence decision actually needs —
    // recall lost to serving appended data through yesterday's
    // quantizer — and the oracle replays BOTH index geometries plus
    // the brute-force truth, so the measurement itself is hash-gated.
    QueryDef("q342_ann_aging",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        val frozen = graft.operators.Similarity.ivfPqIndex(
            emb.where(col("vec_id") % 2 === 0), nCells = 8, dims = 64,
            m = 8, nCentroids = 16)
          .append(emb.where(col("vec_id") % 2 === 1), dims = 64, m = 8)
        val rebuilt = graft.operators.Similarity.ivfPqIndex(
          emb, nCells = 8, dims = 64, m = 8, nCentroids = 16)
        val queries = emb.filter(col("vec_id") < 12)
        val truth = graft.operators.Similarity.bruteForceTopK(
            queries, emb, k = 1)
          .select(col("query_id"), col("neighbor_id").as("true_id"))
        def arm(name: String,
            idx: graft.operators.Similarity.IvfPqIndex) =
          graft.operators.Similarity.ivfPqSearch(queries, idx, k = 5,
              nprobe = 2, dims = 64, m = 8)
            .select(col("query_id").as("qid"), col("neighbor_id"))
            .join(broadcast(truth),
              col("qid") === col("query_id") &&
                col("neighbor_id") === col("true_id"), "left_semi")
            .select(col("qid")).distinct()
            .agg(count(lit(1)).as("n_caught"))
            .crossJoin(broadcast(
              queries.agg(count(lit(1)).as("n_queries"))))
            .select(lit(name).as("arm"), col("n_queries"),
              col("n_caught"),
              expr("(n_caught * 1000000) div n_queries")
                .as("recall_ppm"))
        arm("frozen_append", frozen)
          .unionAll(arm("retrained_full", rebuilt))
          .orderBy(col("arm"))
      },
      Some {
        // parameterized q87 replay: cells/codebook seeded from
        // `build`, codes + assignments over the FULL corpus — exactly
        // what build-then-append produces (append assigns/encodes new
        // vectors with the same frozen-geometry expressions)
        def chain(p: String, build: String): String =
          s"""${p}ccen AS MATERIALIZED (SELECT vec_id AS cel_id, d AS cele
             |  FROM e WHERE $build ORDER BY vec_id LIMIT 8),
             |${p}ca0 AS (SELECT e.vec_id AS id, cel_id,
             |    round(list_dot_product(e.d, cele) /
             |      (sqrt(list_dot_product(e.d, e.d)) *
             |       sqrt(list_dot_product(cele, cele))), 6) AS csim
             |  FROM e, ${p}ccen),
             |${p}ca1 AS (SELECT *, row_number() OVER (PARTITION BY id
             |    ORDER BY csim DESC, cel_id) AS r FROM ${p}ca0),
             |${p}cellof AS MATERIALIZED (SELECT id, cel_id AS cell
             |  FROM ${p}ca1 WHERE r = 1),
             |${p}qp1 AS (SELECT *, row_number() OVER (PARTITION BY id
             |    ORDER BY csim DESC, cel_id) AS r FROM ${p}ca0
             |  WHERE id < 12),
             |${p}probes AS (SELECT id AS query_id, cel_id AS cell
             |  FROM ${p}qp1 WHERE r <= 2),
             |${p}pcen AS MATERIALIZED (SELECT j, s.vec_id AS cen_id,
             |    sv AS cv FROM s
             |  WHERE s.vec_id IN (SELECT vec_id FROM e WHERE $build
             |    ORDER BY vec_id LIMIT 16)),
             |${p}pa0 AS (SELECT s.vec_id AS id, s.j, cen_id,
             |    round(list_dot_product(sv, sv)
             |      - 2 * list_dot_product(sv, cv)
             |      + list_dot_product(cv, cv), 6) AS dist2
             |  FROM s JOIN ${p}pcen ON s.j = ${p}pcen.j),
             |${p}pa1 AS (SELECT *, row_number() OVER (PARTITION BY id, j
             |    ORDER BY dist2, cen_id) AS r FROM ${p}pa0),
             |${p}codes AS MATERIALIZED (SELECT id, j, cen_id AS code
             |  FROM ${p}pa1 WHERE r = 1),
             |${p}tbl AS (SELECT query_id, qs.j, cen_id AS code,
             |    CAST(round(list_dot_product(qv, qv)
             |      - 2 * list_dot_product(qv, cv)
             |      + list_dot_product(cv, cv), 6)
             |      AS DECIMAL(20,6)) AS d2
             |  FROM qs JOIN ${p}pcen ON qs.j = ${p}pcen.j),
             |${p}sums AS (SELECT pr.query_id, c.id AS neighbor_id,
             |    CAST(SUM(d2) AS DOUBLE) AS adist
             |  FROM ${p}codes c
             |  JOIN ${p}cellof co ON c.id = co.id
             |  JOIN ${p}probes pr ON pr.cell = co.cell
             |  JOIN ${p}tbl t ON t.query_id = pr.query_id
             |    AND t.j = c.j AND t.code = c.code
             |  WHERE pr.query_id != c.id
             |  GROUP BY pr.query_id, c.id),
             |${p}r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             |    ORDER BY adist, neighbor_id) AS rank FROM ${p}sums),
             |${p}top AS MATERIALIZED (SELECT query_id, neighbor_id
             |  FROM ${p}r WHERE rank <= 5),
             |${p}rec AS (SELECT
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM e
             |      WHERE vec_id < 12) AS n_queries,
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM tr
             |      WHERE EXISTS (SELECT 1 FROM ${p}top t
             |        WHERE t.query_id = tr.query_id
             |          AND t.neighbor_id = tr.true_id)) AS n_caught)"""
            .stripMargin
        s"""WITH e AS MATERIALIZED (SELECT vec_id,
           |    CAST(embedding AS DOUBLE[]) AS d FROM embeddings),
           |s AS MATERIALIZED (SELECT vec_id, t.j,
           |    d[t.j*8+1 : t.j*8+8] AS sv FROM e, range(0, 8) t(j)),
           |qs AS (SELECT vec_id AS query_id, j, sv AS qv FROM s
           |  WHERE vec_id < 12),
           |tr AS MATERIALIZED (SELECT query_id, true_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS true_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
           |        ORDER BY round(list_dot_product(q.d, c.d) /
           |          (sqrt(list_dot_product(q.d, q.d)) *
           |           sqrt(list_dot_product(c.d, c.d))), 6) DESC,
           |          c.vec_id) AS rk
           |    FROM e q JOIN e c ON q.vec_id < 12
           |      AND c.vec_id != q.vec_id) WHERE rk = 1),
           |${chain("f", "vec_id % 2 = 0")},
           |${chain("g", "TRUE")}
           |SELECT 'frozen_append' AS arm, n_queries, n_caught,
           |  (n_caught * 1000000) // n_queries AS recall_ppm
           |FROM frec
           |UNION ALL
           |SELECT 'retrained_full', n_queries, n_caught,
           |  (n_caught * 1000000) // n_queries FROM grec
           |ORDER BY arm""".stripMargin
      }),

    // ---- unigram training with the GRADUAL Kudo shrink (closing the
    // r13 parity note that `train` prunes once while Kudo's algorithm
    // shrinks a fraction per round): ladder 100 → 60, one EM step per
    // rung plus the final EM — mid-frequency pieces survive the first
    // cut and re-compete for the 60 slots, which is the stated reason
    // SentencePiece shrinks gradually. The oracle replays the ENTIRE
    // three-EM two-prune loop in recursive CTEs (the q323 discipline,
    // one more rung), so the green hash pins every EM decision of the
    // deeper loop, not just the final vocabulary.
    QueryDef("q337_unigram_ladder",
      (s, dir) => graft.operators.Unigram.trainLadder(
          graft.operators.Bpe.wordFreq(t("documents")(s, dir), "text"),
          maxPieceLen = 4, vocabLadder = Seq(100, 60))
        .orderBy(col("piece")),
      Some {
        def prune(n: Int, src: String, target: Int): String =
          s"""pr$n AS MATERIALIZED (SELECT piece, cnt FROM $src
             |  WHERE len(piece) = 1
             |  UNION ALL
             |  SELECT piece, cnt FROM (
             |    SELECT piece, cnt,
             |      ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn,
             |      (SELECT COUNT(*) FROM $src WHERE len(piece) = 1)
             |        AS ns
             |    FROM $src WHERE len(piece) > 1)
             |  WHERE rn <= $target - ns)""".stripMargin
        s"""WITH RECURSIVE
           |wf AS MATERIALIZED (SELECT word,
           |    CAST(COUNT(*) AS BIGINT) AS freq FROM (
           |    SELECT unnest(list_filter(string_split_regex(
           |      lower(text), '\\s+'), x -> len(x) > 0)) AS word
           |    FROM documents)
           |  GROUP BY 1),
           |posl AS MATERIALIZED (SELECT word, freq, i,
           |    unnest(generate_series(1, LEAST(4,
           |      CAST(len(word) AS BIGINT) - i + 1))) AS l
           |  FROM (SELECT word, freq, unnest(generate_series(1,
           |      CAST(len(word) AS BIGINT))) AS i FROM wf)),
           |alpha AS MATERIALIZED (SELECT DISTINCT
           |    substr(word, CAST(i AS INT), 1) AS piece FROM posl),
           |p0 AS MATERIALIZED (SELECT substr(word, CAST(i AS INT),
           |      CAST(l AS INT)) AS piece,
           |    CAST(SUM(freq) AS BIGINT) AS cnt
           |  FROM posl GROUP BY 1),
           |${Round13.unigramEmBlock(1, "p0")},
           |${prune(1, "em1", 100)},
           |${Round13.unigramEmBlock(2, "pr1")},
           |${prune(2, "em2", 60)},
           |${Round13.unigramEmBlock(3, "pr2")},
           |lpF AS MATERIALIZED (SELECT piece, cnt,
           |    CAST(CAST(round(ln(cnt / tot), 6) AS DECIMAL(20,6))
           |      * 1000000 AS BIGINT) AS lp_micro
           |  FROM em3, (SELECT SUM(cnt) AS tot FROM em3) tf3)
           |SELECT piece, cnt, lp_micro FROM lpF
           |ORDER BY piece""".stripMargin
      }),

    // ---- unigram SERVING over raw documents (the r13 parity note's
    // other half: the tokenizer must serve documents, not just the
    // distinct vocabulary): [[Unigram.segmentText]] tokenizes the text
    // column, Viterbi-segments each DISTINCT word once under the
    // shared q323-trained model, and joins the pieces back onto the
    // token stream — per-doc piece/word occurrence counts and exact
    // milli fertility out. The oracle replays the third-EM Viterbi
    // (q324's seg3) and aggregates the same token stream per doc.
    QueryDef("q338_segment_text_serving",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        graft.operators.Unigram.segmentText(
            docs.select(col("doc_id"), col("text")), "text",
            Round13.sharedUnigramVocab(s, dir), maxPieceLen = 4,
            keep = Seq("doc_id"))
          .groupBy(col("doc_id"))
          .agg(sum(when(col("seq") === 1, 1L).otherwise(0L))
              .as("n_word_occurrences"),
            count(lit(1)).as("n_piece_occurrences"))
          .withColumn("fertility_milli",
            expr("(n_piece_occurrences * 1000) div n_word_occurrences"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE
              |${Round13.unigramCtes(4, 60)},
              |${Round13.unigramEmBlock(3, "em2")},
              |pw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_pieces
              |  FROM seg3 GROUP BY 1),
              |tokw AS (SELECT doc_id, unnest(list_filter(
              |    string_split_regex(lower(text), '\\s+'),
              |    x -> len(x) > 0)) AS word FROM documents)
              |SELECT doc_id,
              |  CAST(COUNT(*) AS BIGINT) AS n_word_occurrences,
              |  CAST(SUM(pw.n_pieces) AS BIGINT)
              |    AS n_piece_occurrences,
              |  (CAST(SUM(pw.n_pieces) AS BIGINT) * 1000)
              |    // CAST(COUNT(*) AS BIGINT) AS fertility_milli
              |FROM tokw JOIN pw USING (word)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)))
}
