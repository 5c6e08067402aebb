package graft.queries

import graft.operators.{Classifier, Curation, Multimodal, Similarity}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Round-8 additions: the TRAINED-cells IVF-PQ search end-to-end under
  * the driver's hard signal (q87/q88/q95 run the catalog seeded — the
  * measured-worse recall path the code itself warns about; q91 proved
  * Lloyd training replays in SQL, this composes it THROUGH search), the
  * persistable Bloom-filter artifact (the build-once/probe-many shape
  * PLANS.md round 7's Bloom A/B promises), and the JPEG/BMP marker-scanning
  * parser paths under the parse∘construct gate.
  */
object Round8 {
  val defs: Seq[QueryDef] = Seq(

    // ---- IVF-PQ search over TRAINED cells, end-to-end under the
    // oracle: q91 put Lloyd TRAINING under the hard signal; this runs
    // the same 2-iteration refinement and searches THROUGH the trained
    // cells — closing the last seeded-only gap (q87/q88/q95 all run
    // trainIters = 0, the path Similarity.scala's recall warning exists
    // for). Same search parameters and output shape as q87; only WHICH
    // cells bound the candidate set changes — training moves the
    // broadcast constants, never the plan shape.
    QueryDef("q101_ivfpq_trained",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        Similarity.ivfPqTopK(emb.filter(col("vec_id") < 12), emb,
            k = 5, nCells = 8, nprobe = 2, dims = 64, m = 8,
            nCentroids = 16, trainIters = 2)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH $oTrainedCells,
              |${oIvfPqSearch()}""".stripMargin)),

    // ---- persisted Bloom-filter round-trip: build the packed bitmap
    // from the benchmark split, WRITE the one-row artifact (bitmap +
    // its probe parameters) to parquet, read it back, and probe the
    // whole corpus from the persisted filter — the build-once/
    // probe-many serving shape PLANS.md round 7's Bloom A/B promises ("amortize
    // by persisting the built filter"). Same parameters as q94/q96 and
    // the SAME oracle: any drift in the persisted bitmap or restored
    // parameters hash-fails here.
    QueryDef("q102_bloom_persist",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val outDir = scratchDir(dir, "q102_bloom")
        Curation.BloomFilter
          .build(docs.filter(col("doc_id") % 7 === 0), "text", "doc_id",
            n = 8, mBits = 4194304L, kHashes = 4)
          .write(outDir.getAbsolutePath)
        val filter = Curation.BloomFilter.read(s, outDir.getAbsolutePath)
        Curation.bloomDecontaminateWith(docs, filter, "text", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some(Round7.bloomOracle)),

    // ---- JPEG + BMP under the parse∘construct ≡ identity gate: q97
    // covered the fixed-offset parsers (PNG IHDR, WAV fmt); this one
    // targets the code paths where parser bugs actually live — JPEG's
    // MARKER-SCANNING loop (a COM segment the walker must skip, a FF
    // fill byte, then SOF0 carrying the dimensions) and BMP's signed
    // little-endian dims (both height signs: positive bottom-up and
    // two's-complement negative top-down, whose magnitude must come
    // back). The oracle predicts every field arithmetically.
    QueryDef("q103_jpeg_bmp_probe",
      (s, dir) => {
        def be16(c: Column): Column = lpad(hex(c), 4, "0")
        def le32(c: Column): Column = {
          val x = lpad(hex(c), 8, "0")
          concat(substring(x, 7, 2), substring(x, 5, 2),
            substring(x, 3, 2), substring(x, 1, 2))
        }
        val w = col("n_chars") % 1000 + 1
        val h = col("doc_id") % 500 + 1
        // BMP height alternates sign: % 4 == 1 → bottom-up (+h),
        // % 4 == 3 → top-down (two's-complement −h); parser returns |h|
        val h32 = when(col("doc_id") % 4 === 1, h)
          .otherwise(lit(4294967296L) - h)
        val jpeg = unhex(concat(
          lit("FFD8"),                  // SOI
          lit("FFFE00046869"),          // COM segment (len 4) to skip
          lit("FF"),                    // fill byte before the marker
          lit("FFC00011"),              // SOF0, len 17
          lit("08"), be16(h), be16(w),  // precision, height, width
          lit("03012200021101031101"))) // 3 components
        val bmp = unhex(concat(
          lit("424D"), lit("00" * 12),  // BM + size/reserved/offset
          lit("28000000"),              // BITMAPINFOHEADER size 40 LE
          le32(w), le32(h32)))
        val payload = when(col("doc_id") % 2 === 0, jpeg).otherwise(bmp)
        Multimodal.mediaProbe(
            graft.Tables.rebalance(t("documents")(s, dir))
              .withColumn("payload", payload),
            "doc_id", "payload")
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'jpeg' ELSE 'bmp'
             |    END AS format,
             |  CAST(n_chars % 1000 + 1 AS BIGINT) AS width,
             |  CAST(doc_id % 500 + 1 AS BIGINT) AS height,
             |  CAST(NULL AS BIGINT) AS sample_rate,
             |  CAST(NULL AS BIGINT) AS channels
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- fastText-style quality-classifier inference: bag of
    // unigram+bigram features hashed into 2^18 weight buckets, exact
    // integer milli-weight accumulation, margin = mean bucket weight.
    // The catalog's only MODEL-INFERENCE operator: purely map-side
    // (zero shuffles — plan-asserted in ClassifierSpec), no stored
    // model frame (weights are md5-derived pseudo-parameters standing
    // in for released trained weights — Classifier scaladoc). The
    // oracle replays hashing, bucketing, weights, and the integer fold.
    QueryDef("q104_classifier_score",
      (s, dir) =>
        Classifier.hashedLinearScore(t("documents")(s, dir),
            "text", "doc_id", seed = "cls", buckets = 1 << 18)
          .orderBy(col("doc_id")),
      Some(s"""WITH $oHashedWeights
             |SELECT d.doc_id,
             |  CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
             |  CAST(coalesce(s.w_milli, 0) AS BIGINT) AS w_milli,
             |  CASE WHEN s.n_feats > 0
             |    THEN s.w_milli / (s.n_feats * 1000.0) END AS margin,
             |  CASE WHEN s.n_feats > 0
             |    THEN s.w_milli / (s.n_feats * 1000.0) >= 0
             |  END AS keep
             |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
             |ORDER BY d.doc_id""".stripMargin)))
}
