package graft.queries

import graft.Tables
import graft.functions.Png
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Round-13 queries (q319+): native PNG pixel decode on REAL deflated
  * images (round-trip stats + pixel dHash near-dup). Round 14 extended
  * the codec ladder to baseline sequential JPEG
  * ([[graft.functions.JpegDecodeKernel]], q334/q335); only
  * progressive/arithmetic JPEG and the video/audio codec families
  * remain stubbed.
  */
object Round13 {
  private def t(name: String): QueryFn =
    (s, dir) => Tables.load(s, dir, name)

  /** Shared trained unigram vocabulary per (session, dataset) — the
    * registry discipline: q323 is the unconditional BUILD row, q324
    * consumes the same trained model (training twice would double the
    * EM cost for an identical artifact). */
  private val unigramReg = new graft.core.ArtifactRegistry()
  private def unigramVocab0(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.operators.Unigram.train(
      graft.operators.Bpe.wordFreq(t("documents")(s, dir), "text"),
      maxPieceLen = 4, vocabSize = 60, emIters = 2)
  private def buildUnigramVocab(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    unigramReg.rebuild(s, dir)(unigramVocab0(s, dir))
  private[queries] def sharedUnigramVocab(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    unigramReg.getOrBuild(s, dir)(unigramVocab0(s, dir))

  /** Hex of one formula pixel byte
    * `(doc_id·7 + i·(13 + doc_id mod 97)) mod 256`, optionally with
    * the one-byte re-encode perturbation at `off`. The doc-dependent
    * SLOPE decorrelates dHashes across documents (a shared slope
    * makes adjacent-luma comparisons doc-invariant, clustering the
    * 60-bit hashes and blowing the band join up quadratically — the
    * q320 pair count at sf0.1 measured 158k before vs twins-only
    * after). */
  private def pxHex(i: Column, off: Option[Column]): Column = {
    val base = (col("doc_id") * 7 + i * (lit(13) + col("doc_id") % 97)) % 256
    val v = off match {
      case Some(o) => when(i === o, (base + 9) % 256).otherwise(base)
      case None => base
    }
    lpad(hex(v), 2, "0")
  }

  private def pixelBytes(n: Column, off: Option[Column]): Column =
    unhex(array_join(
      transform(sequence(lit(0L), n - 1), i => pxHex(i, off)), ""))

  /** Unigram-LM oracle building blocks (q323/q324): one hard-EM
    * iteration `n` reading piece counts from CTE `src` — piece
    * log-probs (rounded-ln micro), the word-position edge lattice,
    * Viterbi via recursive path enumeration (31 distinct words of
    * length ≤ 8: ≤ 56 segmentations each), the argmax-chosen edges
    * with the kernel's exact tiebreak (score desc, start asc), the
    * recursive backtrack, and the re-estimated counts with the
    * character-coverage fallback.
    */
  private[queries] def unigramEmBlock(n: Int, src: String): String =
    s"""lp$n AS MATERIALIZED (SELECT piece, cnt,
       |    CAST(CAST(round(ln(cnt / tot), 6) AS DECIMAL(20,6))
       |      * 1000000 AS BIGINT) AS lp
       |  FROM $src, (SELECT SUM(cnt) AS tot FROM $src) t$n),
       |ed$n AS MATERIALIZED (SELECT p.word, p.freq, p.i, p.l, q.lp FROM posl p
       |  JOIN lp$n q ON substr(p.word, CAST(p.i AS INT),
       |    CAST(p.l AS INT)) = q.piece),
       |v${n}p(word, j, score) AS (
       |  SELECT word, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM wf
       |  UNION ALL
       |  SELECT e.word, e.i - 1 + e.l, v${n}p.score + e.lp
       |  FROM v${n}p JOIN ed$n e ON e.word = v${n}p.word
       |    AND e.i = v${n}p.j + 1),
       |v$n AS MATERIALIZED (SELECT word, j, MAX(score) AS best FROM v${n}p
       |  GROUP BY 1, 2),
       |ch$n AS MATERIALIZED (SELECT word, j, i, l FROM (
       |    SELECT e.word, e.i - 1 + e.l AS j, e.i, e.l,
       |      ROW_NUMBER() OVER (PARTITION BY e.word, e.i - 1 + e.l
       |        ORDER BY (vb.best + e.lp) DESC, e.i) AS rn
       |    FROM ed$n e JOIN v$n vb ON vb.word = e.word
       |      AND vb.j = e.i - 1)
       |  WHERE rn = 1),
       |bt$n(word, j) AS (
       |  SELECT word, CAST(len(word) AS BIGINT) FROM wf
       |  UNION ALL
       |  SELECT c.word, CAST(c.i - 1 AS BIGINT) FROM bt$n
       |  JOIN ch$n c ON c.word = bt$n.word AND c.j = bt$n.j
       |  WHERE bt$n.j > 0),
       |seg$n AS MATERIALIZED (SELECT b.word, c.i, c.l,
       |    substr(b.word, CAST(c.i AS INT), CAST(c.l AS INT)) AS piece
       |  FROM bt$n b JOIN ch$n c ON c.word = b.word AND c.j = b.j),
       |use$n AS MATERIALIZED (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM seg$n s JOIN wf USING (word) GROUP BY 1),
       |em$n AS MATERIALIZED (SELECT piece, cnt FROM use$n
       |  UNION ALL
       |  SELECT a.piece, CAST(1 AS BIGINT) FROM alpha a
       |  WHERE a.piece NOT IN (SELECT piece FROM use$n))"""
      .stripMargin

  /** Shared prefix: word freqs, the position lattice, the alphabet,
    * seed piece counts, EM iteration 1, the vocabSize prune, EM
    * iteration 2, and the final log-prob table lpF — the verbatim
    * replay of [[graft.operators.Unigram.train]](maxLen=4,
    * vocabSize=60, emIters=2). */
  private[queries] def unigramCtes(maxLen: Int, vocabSize: Int): String =
    s"""wf AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(list_filter(string_split_regex(lower(text),
       |      '\\s+'), x -> len(x) > 0)) AS word FROM documents)
       |  GROUP BY 1),
       |posl AS MATERIALIZED (SELECT word, freq, i, unnest(generate_series(1,
       |      LEAST($maxLen, CAST(len(word) AS BIGINT) - i + 1))) AS l
       |  FROM (SELECT word, freq, unnest(generate_series(1,
       |      CAST(len(word) AS BIGINT))) AS i FROM wf)),
       |alpha AS MATERIALIZED (SELECT DISTINCT substr(word, CAST(i AS INT), 1)
       |    AS piece FROM posl),
       |p0 AS MATERIALIZED (SELECT substr(word, CAST(i AS INT), CAST(l AS INT))
       |    AS piece, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM posl GROUP BY 1),
       |${unigramEmBlock(1, "p0")},
       |pr AS MATERIALIZED (SELECT piece, cnt FROM em1 WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt,
       |      ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rn,
       |      (SELECT COUNT(*) FROM em1 WHERE len(piece) = 1) AS ns
       |    FROM em1 WHERE len(piece) > 1)
       |  WHERE rn <= $vocabSize - ns),
       |${unigramEmBlock(2, "pr")},
       |lpF AS MATERIALIZED (SELECT piece, cnt,
       |    CAST(CAST(round(ln(cnt / tot), 6) AS DECIMAL(20,6))
       |      * 1000000 AS BIGINT) AS lp_micro
       |  FROM em2, (SELECT SUM(cnt) AS tot FROM em2) tf2)"""
      .stripMargin

  /** q330's query batch (the q301 mixed-selectivity discipline). */
  private[queries] val incrementalQueries: Seq[(Int, String)] = Seq(
    1 -> "hash join planner",
    2 -> "window merge batch stream vector",
    3 -> "scan filter zzzabsent",
    4 -> "partition shuffle")
  private val incrementalValues: String = incrementalQueries
    .map { case (qid, txt) => s"($qid, '$txt')" }.mkString(", ")

  val defs: Seq[QueryDef] = Seq(

    // ---- PNG pixel round-trip, hash-gated parse∘construct (the q306
    // discipline on images): Spark BUILDS real compressed PNGs — raw
    // pixels from the formula byte (doc_id·7 + i·13) mod 256, scanline
    // filters cycling through ALL FIVE RFC-2083 types, a genuine
    // Deflater zlib stream, CRC32 chunk trailers — then decodes them
    // back with the native Inflater+unfilter kernel and reports exact
    // channel sums and milli-luma. The oracle predicts every integer
    // ARITHMETICALLY from the pixel formula: a green hash proves
    // decode∘encode is the identity on real deflate streams for every
    // (size, color type, filter) combination in the corpus. doc_id%7=6
    // rows carry raw text bytes and must yield all nulls (the
    // garbage-rows contract).
    QueryDef("q319_png_roundtrip",
      (s, dir) => {
        val w = col("doc_id") % 12 + 5
        val h = col("doc_id") % 9 + 4
        val ch = when(col("doc_id") % 3 === 0, 1L)
          .when(col("doc_id") % 3 === 1, 3L).otherwise(4L)
        val png = Png.pngEncode(w, h, ch, pixelBytes(w * h * ch, None))
        val payload = when(col("doc_id") % 7 === 6,
            graft.operators.Multimodal.syntheticPayload(col("text")))
          .otherwise(png)
        graft.Tables.rebalance(t("documents")(s, dir)
            .select(col("doc_id"), col("text")))
          .withColumn("st", Png.pngStats(payload))
          .select(col("doc_id"), col("st.width"), col("st.height"),
            col("st.channels"), col("st.n_pixels"), col("st.sum_c0"),
            col("st.sum_c1"), col("st.sum_c2"),
            col("st.sum_luma_milli"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, doc_id % 12 + 5 AS w,
             |    doc_id % 9 + 4 AS h,
             |    CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3
             |      ELSE 4 END AS ch
             |  FROM documents WHERE doc_id % 7 <> 6),
             |px AS (SELECT doc_id, w, h, ch, unnest(generate_series(0,
             |    CAST(w * h * ch - 1 AS BIGINT))) AS i FROM d),
             |v AS (SELECT doc_id, w, h, ch, i % ch AS k,
             |    (doc_id * 7 + i * (13 + doc_id % 97)) % 256 AS v
             |  FROM px),
             |a AS (SELECT doc_id, MAX(w) AS w, MAX(h) AS h,
             |    MAX(ch) AS ch,
             |    SUM(CASE WHEN k = 0 THEN v ELSE 0 END) AS s0,
             |    SUM(CASE WHEN k = 1 THEN v ELSE 0 END) AS s1,
             |    SUM(CASE WHEN k = 2 THEN v ELSE 0 END) AS s2
             |  FROM v GROUP BY doc_id)
             |SELECT doc_id, CAST(w AS BIGINT) AS width,
             |  CAST(h AS BIGINT) AS height, CAST(ch AS BIGINT) AS channels,
             |  CAST(w * h AS BIGINT) AS n_pixels,
             |  CAST(s0 AS BIGINT) AS sum_c0,
             |  CASE WHEN ch >= 3 THEN CAST(s1 AS BIGINT) END AS sum_c1,
             |  CASE WHEN ch >= 3 THEN CAST(s2 AS BIGINT) END AS sum_c2,
             |  CAST(CASE WHEN ch = 1 THEN 1000 * s0
             |    ELSE 299 * s0 + 587 * s1 + 114 * s2 END AS BIGINT)
             |    AS sum_luma_milli
             |FROM a
             |UNION ALL
             |SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
             |  NULL
             |FROM documents WHERE doc_id % 7 = 6
             |ORDER BY doc_id""".stripMargin)),

    // ---- pixel dHash near-dup on REAL compressed images — the q293
    // shape upgraded from BMP-constructed grayscale stand-ins to
    // genuine deflated RGB PNGs decoded by the native kernel. Every
    // doc encodes a formula-pixel PNG; doc_id%5=0 docs get a
    // RE-ENCODED twin with ONE pixel byte perturbed (+9 at a
    // deterministic offset — the local delta a lossy re-save
    // produces). dHash = the kernel's 60-bit 11×6 nearest-neighbor
    // luma grid over DECODED pixels; candidates from 4 exact-match
    // bands of 15 bits; popcount(xor) ≤ 10 verified on the candidate
    // stream only — never all-pairs. The oracle replays the sampled
    // luma grid arithmetically from the pixel formula, so a green
    // hash proves the full decode path (inflate + all five unfilters)
    // pixel-exactly on every corpus image AND its perturbed twin.
    QueryDef("q320_png_dhash_neardup",
      (s, dir) => {
        val w = col("doc_id") % 10 + 8
        val h = col("doc_id") % 6 + 6
        val n = w * h * 3
        val off = (col("doc_id") * 11) % n
        val docs = graft.Tables.rebalance(
          t("documents")(s, dir).select(col("doc_id")))
        val base = docs.select(col("doc_id"),
          Png.pngEncode(w, h, lit(3), pixelBytes(n, None)).as("png"))
        val twins = docs.where(col("doc_id") % 5 === 0)
          .select(col("doc_id"),
            Png.pngEncode(w, h, lit(3), pixelBytes(n, Some(off)))
              .as("png"))
          .select((col("doc_id") + 1000000000L).as("doc_id"),
            col("png"))
        val sig = base.unionAll(twins)
          .select(col("doc_id"), Png.pngDhash60(col("png")).as("ph"))
        val banded = sig.select(col("doc_id"), col("ph"),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"),
              expr(s"shiftright(ph, ${15 * b}) & 32767")
                .as("bv"))): _*)).as("x"))
          .select(col("doc_id"), col("ph"), col("x.band"), col("x.bv"))
        banded.as("a").join(banded.as("b"), Seq("band", "bv"))
          .where(col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
            expr("bit_count(a.ph ^ b.ph)").cast("long").as("hamming"))
          .distinct()
          .where(col("hamming") <= 10)
          .orderBy(col("da"), col("db"))
      },
      Some("""WITH d0 AS (SELECT doc_id, doc_id % 10 + 8 AS w,
             |    doc_id % 6 + 6 AS h FROM documents),
             |corpus AS (
             |  SELECT doc_id, w, h, CAST(-1 AS BIGINT) AS off,
             |    doc_id AS src FROM d0
             |  UNION ALL
             |  SELECT doc_id + 1000000000, w, h,
             |    (doc_id * 11) % (w * h * 3) AS off, doc_id AS src
             |  FROM d0 WHERE doc_id % 5 = 0),
             |g AS (SELECT doc_id, w, h, off, src,
             |    unnest(generate_series(0, 5)) AS gy FROM corpus),
             |gs AS (SELECT doc_id, w, h, off, src, gy,
             |    unnest(generate_series(0, 10)) AS gx FROM g),
             |smp AS (SELECT doc_id, gy, gx,
             |    ((gy * h) // 6 * w + (gx * w) // 11) * 3 AS base,
             |    off, src FROM gs),
             |pxv AS (SELECT doc_id, gy, gx, base, off, src,
             |    13 + src % 97 AS sl FROM smp),
             |luma AS (SELECT doc_id, gy, gx,
             |    299 * ((src * 7 + base * sl
             |        + CASE WHEN base = off THEN 9 ELSE 0 END) % 256)
             |  + 587 * ((src * 7 + (base + 1) * sl
             |        + CASE WHEN base + 1 = off THEN 9 ELSE 0 END) % 256)
             |  + 114 * ((src * 7 + (base + 2) * sl
             |        + CASE WHEN base + 2 = off THEN 9 ELSE 0 END) % 256)
             |    AS lm FROM pxv),
             |bits AS (SELECT doc_id, gy, gx, lm,
             |    LEAD(lm) OVER (PARTITION BY doc_id, gy ORDER BY gx)
             |      AS nxt FROM luma),
             |sig AS (SELECT doc_id,
             |    SUM(CASE WHEN gx < 10 AND nxt > lm
             |      THEN CAST(1 AS BIGINT) << (gy * 10 + gx)
             |      ELSE 0 END) AS ph
             |  FROM bits GROUP BY doc_id),
             |banded AS (SELECT doc_id, ph, band,
             |    (ph >> (15 * band)) & 32767 AS bv
             |  FROM sig, unnest([0, 1, 2, 3]) AS u(band)),
             |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
             |    CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
             |  FROM banded a JOIN banded b
             |  ON a.band = b.band AND a.bv = b.bv
             |  AND a.doc_id < b.doc_id)
             |SELECT da, db, hamming FROM cand
             |WHERE hamming <= 10 ORDER BY da, db""".stripMargin)),

    // ---- retrieval metrics over the ON-DISK index — the q274 family
    // finally exercising the deployment read path end to end: build
    // the impact index from the shared TF, persist it word-bucket-
    // partitioned (writeBm25Index), then rank the SAME doc-as-query
    // batch through the partition-pruned indexed read
    // (bm25TopKFromIndex — chosen over the WAND coordinator because
    // the doc-as-query A/B (PLANS.md round 13) measured pruning LOSING on
    // common-term-anchored batches; q302 carries the pruned twin for
    // selective batches) and score P@10/MRR/nDCG against the same
    // pseudo-relevance truth. Oracle = q274's, VERBATIM: the green
    // hash proves the persisted-index read path produces metrics
    // bit-identical to the ad-hoc shared-frame path. (The query batch
    // collects driver-side — |docs|/20 rows, the documented
    // driver-frame contract.)
    QueryDef("q321_retrieval_metrics_indexed",
      (s, dir) => {
        val outDir = scratchDir(dir, "q321_bm25idx")
        val idx = graft.operators.Retrieval.bm25Index(
          t("documents")(s, dir), "doc_id", "text",
          tf = Some(Round9b.sharedTf(s, dir)))
        graft.operators.Retrieval.writeBm25Index(idx,
          outDir.getAbsolutePath, wordBuckets = 16)
        val batch = Round11f.docQueryBatch(s, dir)
          .collect().map(r => (r.getLong(0).toInt, r.getString(1)))
          .toSeq
        // exhaustive indexed read, not the WAND coordinator: the
        // doc-as-query A/B (PLANS.md round 13) measured the pruned path
        // LOSING on batches
        // anchored on common terms (documents open with frequent words,
        // so every term is essential and the coordinator's extra
        // metadata/seed/θ reads never amortize) — the partition-pruned
        // one-pass read IS the right deployment plan for this workload;
        // the pruned twin exists (q302) for selective query batches
        val ranked = graft.operators.Retrieval.bm25TopKFromIndex(
          s, outDir.getAbsolutePath, batch, k = 10)
        graft.operators.Eval.retrievalMetrics(ranked,
            Round11f.docQueryTruth(s, dir), k = 10)
          .orderBy(col("query_id"))
      },
      Some(Round11f.retrievalMetricsOracle)),

    // ---- streaming per-group heavy hitters, batch twin (the q272
    // discipline applied to the frequency family): the SAME pipeline
    // shape the streaming arm runs — event-time tumbling day windows,
    // per-(window, event_type) Misra-Gries candidates, exact-count
    // verify ([[EventStreams.heavyHitterCandidates]] is the
    // incremental half; EventStreamsSpec pins the micro-batch merge
    // parity) — computed in batch and gated by a plain exact-count
    // oracle. Capacity 4096 ≥ per-group user cardinality, so the MG
    // candidate set is provably exact and the top-3 deterministic.
    QueryDef("q322_stream_heavy_hitters_twin",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t("events")(s, dir)
          .select(window(col("ts"), "1 day")("start").cast("date")
            .as("day"), col("event_type"), col("user_id"))
        val counts = graft.operators.Freq.heavyHitterCountsBy(
          ev, Seq("day", "event_type"), "user_id", capacity = 4096)
        val w = Window.partitionBy(col("day"), col("event_type"))
          .orderBy(col("n_rows").desc, col("user_id"))
        counts.withColumn("rank", row_number().over(w).cast("bigint"))
          .where(col("rank") <= 3)
          .orderBy(col("day"), col("event_type"), col("rank"))
      },
      Some("""WITH e AS (SELECT CAST(date_trunc('day', ts) AS DATE)
             |    AS day, event_type, user_id FROM events),
             |c AS (SELECT day, event_type, user_id,
             |    CAST(COUNT(*) AS BIGINT) AS n_rows
             |  FROM e GROUP BY 1, 2, 3),
             |r AS (SELECT *, row_number() OVER (
             |    PARTITION BY day, event_type
             |    ORDER BY n_rows DESC, user_id) AS rank FROM c)
             |SELECT day, event_type, user_id, n_rows,
             |  CAST(rank AS BIGINT) AS rank
             |FROM r WHERE rank <= 3
             |ORDER BY day, event_type, rank""".stripMargin)),

    // ---- unigram-LM tokenizer TRAINING (Kudo 2018 — the
    // SentencePiece unigram model, the BPE family's EM-based sibling):
    // seed every ≤4-char substring of the distinct vocabulary, two
    // hard-EM iterations (Viterbi E-step via the native DP kernel,
    // count M-step with the character-coverage fallback) with the
    // Kudo shrink to 60 pieces between them. The oracle replays the
    // ENTIRE loop — seed counts, rounded-ln micro log-probs, the
    // Viterbi argmax with the exact (score desc, start asc) tiebreak
    // via recursive path enumeration + backtrack CTEs, the prune
    // window, both EM re-estimates — so the green hash pins every EM
    // decision, not just the final vocabulary's shape.
    QueryDef("q323_unigram_train",
      (s, dir) => buildUnigramVocab(s, dir).orderBy(col("piece")),
      Some(s"""WITH RECURSIVE
              |${unigramCtes(4, 60)}
              |SELECT piece, cnt, lp_micro FROM lpF
              |ORDER BY piece""".stripMargin)),

    // ---- unigram-LM SEGMENTATION under the trained model (the
    // serving half): Viterbi-tokenize every distinct vocabulary word
    // with the q323 vocabulary —`(word, freq, seq, piece)` in path
    // order. Oracle = a third Viterbi replay under the final
    // log-probs. Character coverage guarantees a path for every word.
    QueryDef("q324_unigram_segment",
      (s, dir) => graft.operators.Unigram.segmentWords(
          graft.operators.Bpe.wordFreq(t("documents")(s, dir), "text"),
          sharedUnigramVocab(s, dir), maxPieceLen = 4)
        .orderBy(col("word"), col("seq")),
      Some(s"""WITH RECURSIVE
              |${unigramCtes(4, 60)},
              |${unigramEmBlock(3, "em2")}
              |SELECT s.word, wf.freq,
              |  CAST(ROW_NUMBER() OVER (PARTITION BY s.word
              |    ORDER BY s.i) AS BIGINT) AS seq,
              |  s.piece
              |FROM seg3 s JOIN wf USING (word)
              |ORDER BY s.word, seq""".stripMargin)),

    // ---- LSH geometry auto-calibration (the PLANS.md round 11 lesson
    // operationalized: plane count is make-or-break and
    // corpus-dependent, so MEASURE the ladder before a 100 TB mining
    // job): for (2,4)/(6,4)/(6,8) over a deterministic sample of the
    // even/odd embedding halves — bucket-join probe volume, distinct
    // candidate yield, and exact-top-1 recall per config, with the
    // pass flag a pipeline picks its cheapest passing geometry from.
    // The oracle replays every bucket (inline md5 plane signs, the
    // q300 machinery at BOTH plane counts), the probe-volume
    // occupancy sums, the brute-force truth, and the ppm arithmetic.
    QueryDef("q325_lsh_calibration",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        graft.operators.Similarity.calibrateLshGeometry(
          emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1),
          configs = Seq((2, 4), (6, 4), (6, 8)), dims = 64,
          sampleMod = 3, recallFloorPpm = 400000L)
      },
      Some {
        def oCos(a: String, b: String): String =
          s"round(list_dot_product($a, $b) / " +
            s"(sqrt(list_dot_product($a, $a)) * " +
            s"sqrt(list_dot_product($b, $b))), 6)"
        def oBucket(tb: Int, p: Int): String = (0 until p).map { j =>
          val signs = graft.operators.Similarity
            .planeSigns(tb * p + j, 64)
            .map(v => if (v > 0) "1.0" else "-1.0").mkString(", ")
          s"CASE WHEN list_dot_product(e, [$signs]) >= 0 " +
            s"THEN ${1L << j} ELSE 0 END"
        }.mkString(" + ")
        def cfg(i: Int, tables: Int, p: Int): String = {
          val lSel = (0 until tables).map(tb =>
            s"SELECT left_id, $tb AS t, ${oBucket(tb, p)} AS bk FROM lb")
            .mkString(" UNION ALL ")
          val rSel = (0 until tables).map(tb =>
            s"SELECT right_id, $tb AS t, ${oBucket(tb, p)} AS bk FROM rb")
            .mkString(" UNION ALL ")
          s"""lbk$i AS MATERIALIZED ($lSel),
             |rbk$i AS MATERIALIZED ($rSel),
             |occ$i AS (SELECT COALESCE(SUM(cl * cr), 0) AS pv FROM
             |  (SELECT t, bk, COUNT(*) AS cl FROM lbk$i GROUP BY 1, 2) a
             |  JOIN (SELECT t, bk, COUNT(*) AS cr FROM rbk$i
             |    GROUP BY 1, 2) b USING (t, bk)),
             |cand$i AS MATERIALIZED (SELECT DISTINCT left_id, right_id
             |  FROM lbk$i JOIN rbk$i USING (t, bk)),
             |row$i AS (SELECT CAST($tables AS BIGINT) AS tables,
             |    CAST($p AS BIGINT) AS planes,
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lb) AS n_left,
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM rb) AS n_right,
             |    (SELECT CAST(pv AS BIGINT) FROM occ$i)
             |      AS probe_volume,
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cand$i)
             |      AS n_cand_pairs,
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM tr) AS n_truth,
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM tr
             |      WHERE EXISTS (SELECT 1 FROM cand$i c
             |        WHERE c.left_id = tr.left_id
             |          AND c.right_id = tr.right_id)) AS n_caught)"""
            .stripMargin
        }
        s"""WITH lb AS MATERIALIZED (SELECT vec_id AS left_id,
           |    CAST(embedding AS DOUBLE[]) AS e FROM embeddings
           |  WHERE vec_id % 2 = 0 AND vec_id % 3 = 0),
           |rb AS MATERIALIZED (SELECT vec_id AS right_id,
           |    CAST(embedding AS DOUBLE[]) AS e FROM embeddings
           |  WHERE vec_id % 2 = 1 AND vec_id % 3 = 0),
           |tr AS MATERIALIZED (SELECT left_id, right_id FROM (
           |    SELECT lb.left_id, rb.right_id, ROW_NUMBER() OVER (
           |      PARTITION BY lb.left_id
           |      ORDER BY ${oCos("lb.e", "rb.e")} DESC, rb.right_id)
           |      AS rk
           |    FROM lb CROSS JOIN rb) WHERE rk = 1),
           |${cfg(1, 2, 4)},
           |${cfg(2, 6, 4)},
           |${cfg(3, 6, 8)},
           |allr AS (SELECT * FROM row1 UNION ALL
           |  SELECT * FROM row2 UNION ALL SELECT * FROM row3)
           |SELECT tables, planes, n_left, n_right, probe_volume,
           |  n_cand_pairs,
           |  (n_cand_pairs * 1000000) // (n_left * n_right)
           |    AS pair_ppm,
           |  n_truth, n_caught,
           |  CASE WHEN n_truth > 0
           |    THEN (n_caught * 1000000) // n_truth ELSE 0 END
           |    AS recall_ppm,
           |  CASE WHEN n_truth > 0
           |    THEN (n_caught * 1000000) // n_truth ELSE 0 END
           |    >= 400000 AS passes
           |FROM allr ORDER BY tables, planes""".stripMargin
      }),

    // ---- KLL quantile sketch audit (Karnin-Lang-Liberty 2016; the
    // q295 audit harness applied to the state-of-the-art mergeable
    // rank sketch): per returnflag, build the k=256 KLL over the cent
    // prices, estimate p50 from the weighted sketch, and audit it
    // against the exact lower median. A compacting sketch's ESTIMATE
    // is merge-order-dependent (unlike HLL/KMV/CM, whose merges
    // commute exactly), so the row gates what IS deterministic: the
    // exact side, Σweight = n (lossless weight conservation), the
    // O(k) space ceiling, and the rank-error bound with wide slack
    // (measured ~0.3% at k=256; gated at 3%) — the same
    // drift-fails-the-build idea as RecallGateSpec, in-catalog.
    // KllSpec pins the bound across partitionings; the error-vs-space
    // curve lives beside q295's in PLANS.md.
    QueryDef("q326_kll_quantiles",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val k = 256
        val li = t("lineitem")(s, dir).select(col("l_returnflag"),
          (col("l_extendedprice").cast("decimal(12,2)") * 100)
            .cast("long").as("v"))
        // the KLL update loop is the row's dominant CPU; the lineitem
        // scan is 3 splits, so spread the partial aggregation across
        // the cluster first (guide §2.5 input parallelism; the media-
        // row rebalance discipline, optimization round 19)
        val sk = graft.Tables.rebalance(li).groupBy(col("l_returnflag"))
          .agg(graft.functions.KllAgg.kll(col("v"), k).as("s"))
          .select(col("l_returnflag"), size(col("s")).as("n_items"),
            explode(col("s")).as("x"))
          .select(col("l_returnflag"), col("n_items"),
            col("x.item"), col("x.weight"))
        val wC = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("item"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val est = sk.withColumn("cum", sum(col("weight")).over(wC))
          .withColumn("wsum", sum(col("weight")).over(
            Window.partitionBy(col("l_returnflag"))))
          .where(col("cum") >= expr("(wsum + 1) div 2"))
          .groupBy(col("l_returnflag"))
          .agg(min(col("item")).as("est_p50"),
            max(col("wsum")).as("w_total"),
            max(col("n_items")).as("n_items"))
        // exact lower median + the estimate's true rank (q295 idiom)
        val ng = li.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"))
        val dv = li.groupBy(col("l_returnflag"), col("v"))
          .agg(count(lit(1)).as("c"))
        val cum = dv.withColumn("cum", sum(col("c")).over(
            Window.partitionBy(col("l_returnflag")).orderBy(col("v"))
              .rowsBetween(Window.unboundedPreceding, 0)))
          .join(broadcast(ng), Seq("l_returnflag"))
        val exact = cum.where(col("cum") >= expr("(n + 1) div 2"))
          .groupBy(col("l_returnflag"))
          .agg(min(col("v")).as("exact_p50"), max(col("n")).as("n"))
        val rankEst = cum.join(est, Seq("l_returnflag"))
          .where(col("v") <= col("est_p50"))
          .groupBy(col("l_returnflag"))
          .agg(max(col("cum")).as("rank_est"))
        est.join(exact, Seq("l_returnflag"))
          .join(rankEst, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("n"), col("exact_p50"),
            (col("w_total") === col("n")).as("weight_conserved"),
            (col("n_items") <= lit(3 * k + 64)).as("space_bounded"),
            (expr("(abs(rank_est * 2 - n) * 1000000) div (2 * n)")
              <= 30000L).as("kll_within_bound"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH li AS (SELECT l_returnflag,
             |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
             |      AS BIGINT) AS v FROM lineitem),
             |ng AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM li GROUP BY 1),
             |dv AS (SELECT l_returnflag, v, COUNT(*) AS c FROM li
             |  GROUP BY 1, 2),
             |cum AS (SELECT l_returnflag, v,
             |    SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v
             |      ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM dv),
             |ex AS (SELECT cum.l_returnflag, MIN(v) AS exact_p50
             |  FROM cum JOIN ng USING (l_returnflag)
             |  WHERE cum >= (n + 1) // 2 GROUP BY 1)
             |SELECT ng.l_returnflag, ng.n, ex.exact_p50,
             |  TRUE AS weight_conserved,
             |  TRUE AS space_bounded,
             |  TRUE AS kll_within_bound
             |FROM ng JOIN ex USING (l_returnflag)
             |ORDER BY ng.l_returnflag""".stripMargin)),

    // ---- temperature-scaled data-mixture allocation (the
    // multilingual up-sampling rule: sample share ∝ n^τ with τ < 1 —
    // mBERT used τ=0.7, XLM-R τ=0.3; τ=1/2 here because sqrt is
    // IEEE-correctly-rounded, so the rounded-micro weight is
    // engine-identical by the lp_micro discipline): per-language
    // token totals → sqrt-micro weights → Hamilton largest-remainder
    // integerization of a 100k-token budget (Σ alloc = budget
    // EXACTLY, the q305 operator), plus each language's resulting
    // sampling rate in ppm — low-resource languages get a higher
    // rate, which is the point of the temperature.
    QueryDef("q327_temperature_mixture",
      (s, dir) => {
        val toks = t("documents")(s, dir)
          .groupBy(col("lang"))
          .agg(sum(size(graft.operators.TextOps.words(col("text"))))
            .cast("bigint").as("n_tokens"))
        val weighted = toks.withColumn("w_micro",
          (round(sqrt(col("n_tokens")), 6).cast("decimal(20,6)")
            * 1000000).cast("long"))
        graft.operators.Curation.largestRemainderAllocation(
            weighted, Seq("lang", "n_tokens"), "w_micro",
            budget = 100000L)
          .withColumn("sample_ppm",
            expr("(alloc * 1000000) div n_tokens"))
          .orderBy(col("lang"))
      },
      Some("""WITH g AS (SELECT lang,
             |    CAST(SUM(len(list_filter(string_split_regex(
             |      lower(text), '\s+'), x -> len(x) > 0)))
             |      AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY 1),
             |wm AS (SELECT lang, n_tokens,
             |    CAST(CAST(round(sqrt(n_tokens), 6) AS DECIMAL(20,6))
             |      * 1000000 AS BIGINT) AS w_micro FROM g),
             |t AS (SELECT SUM(CAST(w_micro AS HUGEINT)) AS w FROM wm),
             |b AS (SELECT lang, n_tokens, w_micro,
             |    CAST((CAST(w_micro AS HUGEINT) * 100000) // w
             |      AS BIGINT) AS base,
             |    (CAST(w_micro AS HUGEINT) * 100000) % w AS rem
             |  FROM wm, t),
             |r AS (SELECT *, row_number() OVER (
             |    ORDER BY rem DESC, lang, n_tokens) AS rk,
             |    SUM(base) OVER () AS base_total FROM b),
             |a AS (SELECT lang, n_tokens, w_micro,
             |    CAST(base + CASE WHEN rk <= 100000 - base_total
             |      THEN 1 ELSE 0 END AS BIGINT) AS alloc
             |  FROM r)
             |SELECT lang, n_tokens, w_micro, alloc,
             |  (alloc * 1000000) // n_tokens AS sample_ppm
             |FROM a ORDER BY lang""".stripMargin)),

    // ---- REAL image resize (the resize stub's honest replacement on
    // PNG payloads): encode a formula RGB PNG per doc, resize it to a
    // fixed 8×6 thumbnail with the native decode→nearest-neighbor→
    // re-encode kernel, decode the RESULT and report exact channel
    // sums. The oracle replays the nearest-neighbor coordinate
    // arithmetic (in_row = (out_row·h) div 6, in_col = (out_col·w)
    // div 8) directly against the pixel formula — a green hash proves
    // decode → resample → re-encode → decode is exact end to end on
    // real deflate streams. Garbage rows (doc_id%7=6 text bytes)
    // yield all-null, the contract every PNG kernel shares.
    QueryDef("q328_png_resize",
      (s, dir) => {
        val w = col("doc_id") % 10 + 6
        val h = col("doc_id") % 7 + 5
        val png = Png.pngEncode(w, h, lit(3), pixelBytes(w * h * 3, None))
        val payload = when(col("doc_id") % 7 === 6,
            graft.operators.Multimodal.syntheticPayload(col("text")))
          .otherwise(png)
        graft.Tables.rebalance(t("documents")(s, dir)
            .select(col("doc_id"), col("text")))
          .withColumn("st",
            Png.pngStats(Png.pngResize(payload, lit(8), lit(6))))
          .select(col("doc_id"), col("st.width"), col("st.height"),
            col("st.n_pixels"), col("st.sum_c0"), col("st.sum_c1"),
            col("st.sum_c2"), col("st.sum_luma_milli"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, doc_id % 10 + 6 AS w,
             |    doc_id % 7 + 5 AS h, 13 + doc_id % 97 AS sl
             |  FROM documents WHERE doc_id % 7 <> 6),
             |gr AS (SELECT doc_id, w, h, sl,
             |    unnest(generate_series(0, 5)) AS r FROM d),
             |gc AS (SELECT doc_id, w, h, sl, r,
             |    unnest(generate_series(0, 7)) AS c FROM gr),
             |gk AS (SELECT doc_id, w, h, sl, r, c,
             |    unnest(generate_series(0, 2)) AS k FROM gc),
             |v AS (SELECT doc_id, k,
             |    (doc_id * 7 + (((r * h) // 6 * w + (c * w) // 8) * 3
             |      + k) * sl) % 256 AS v
             |  FROM gk),
             |a AS (SELECT doc_id,
             |    SUM(CASE WHEN k = 0 THEN v ELSE 0 END) AS s0,
             |    SUM(CASE WHEN k = 1 THEN v ELSE 0 END) AS s1,
             |    SUM(CASE WHEN k = 2 THEN v ELSE 0 END) AS s2
             |  FROM v GROUP BY 1)
             |SELECT doc_id, CAST(8 AS BIGINT) AS width,
             |  CAST(6 AS BIGINT) AS height,
             |  CAST(48 AS BIGINT) AS n_pixels,
             |  CAST(s0 AS BIGINT) AS sum_c0,
             |  CAST(s1 AS BIGINT) AS sum_c1,
             |  CAST(s2 AS BIGINT) AS sum_c2,
             |  CAST(299 * s0 + 587 * s1 + 114 * s2 AS BIGINT)
             |    AS sum_luma_milli
             |FROM a
             |UNION ALL
             |SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL
             |FROM documents WHERE doc_id % 7 = 6
             |ORDER BY doc_id""".stripMargin)),

    // ---- unigram tokenizer fertility per language (the q195 BPE
    // twin, under the EM-trained q323 vocabulary): pieces per word
    // occurrence in exact milli — the head-to-head number a pipeline
    // reads beside q195 to pick its tokenizer, and the per-language
    // under-service signal. Consumes the SHARED trained artifact and
    // reads the corpus through the SERVING path
    // ([[graft.operators.Unigram.segmentText]]: one vocabulary-sized
    // Viterbi pass, pieces joined back onto the token stream — the
    // r14 raw-text rung), so the fertility the row reports is exactly
    // what the deployed tokenizer produces on documents.
    QueryDef("q329_unigram_fertility",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        graft.operators.Unigram.segmentText(
            docs.select(col("lang"), col("text")), "text",
            sharedUnigramVocab(s, dir), maxPieceLen = 4,
            keep = Seq("lang"))
          .groupBy(col("lang"))
          .agg(sum(when(col("seq") === 1, 1L).otherwise(0L))
              .as("n_word_occurrences"),
            count(lit(1)).as("n_piece_occurrences"))
          .withColumn("fertility_milli",
            expr("(n_piece_occurrences * 1000) div n_word_occurrences"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH RECURSIVE
              |${unigramCtes(4, 60)},
              |${unigramEmBlock(3, "em2")},
              |pc AS (SELECT piece AS _p, word,
              |    CAST(COUNT(*) OVER (PARTITION BY word) AS BIGINT)
              |      AS n_pieces, i FROM seg3),
              |pw AS (SELECT word, MAX(n_pieces) AS n_pieces
              |  FROM pc GROUP BY 1),
              |tokw AS (SELECT lang, unnest(list_filter(
              |    string_split_regex(lower(text), '\\s+'),
              |    x -> len(x) > 0)) AS word FROM documents)
              |SELECT lang,
              |  CAST(COUNT(*) AS BIGINT) AS n_word_occurrences,
              |  CAST(SUM(pw.n_pieces) AS BIGINT)
              |    AS n_piece_occurrences,
              |  (CAST(SUM(pw.n_pieces) AS BIGINT) * 1000)
              |    // CAST(COUNT(*) AS BIGINT) AS fertility_milli
              |FROM tokw JOIN pw USING (word)
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- INCREMENTAL retrieval index end to end (the daily-ingest
    // deployment reality the impact index can't serve: appending
    // documents shifts idf/avgdl, so q302's precomputed contribs
    // would need a full rebuild per increment): build the TF index on
    // doc_id%3≠2, APPEND the %3=2 increment as pure parquet appends,
    // then answer the q301 query batch with statistics recomputed at
    // read time over the index's current state. The oracle is
    // exhaustive BM25 over the FULL corpus — the green hash proves
    // build∘append∘query ≡ full rebuild, bit-identically, tiebreaks
    // included.
    QueryDef("q330_bm25_incremental",
      (s, dir) => {
        val outDir = scratchDir(dir, "q330_tfidx")
        val docs = t("documents")(s, dir)
        graft.operators.Retrieval.writeTfIndex(
          docs.where(col("doc_id") % 3 =!= 2),
          outDir.getAbsolutePath, wordBuckets = 16)
        graft.operators.Retrieval.tfFamily().append(
          outDir.getAbsolutePath, docs.where(col("doc_id") % 3 === 2))
        graft.operators.Retrieval.bm25TopKFromTfIndex(
          s, outDir.getAbsolutePath, Round13.incrementalQueries, k = 10)
      },
      Some(s"""WITH ${graft.operators.Retrieval.bm25OracleCtes(
                incrementalValues, 1.2, 0.75)},
              |r AS (SELECT query_id, doc_id, score,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY score DESC, doc_id) AS rnk
              |  FROM sc)
              |SELECT query_id, doc_id, score,
              |  CAST(rnk AS BIGINT) AS rank
              |FROM r WHERE rnk <= 10
              |ORDER BY query_id, rank""".stripMargin)))

}
