package graft.queries

import graft.operators.{Curation, Similarity}
import org.apache.spark.sql.functions._

/** Round-6 additions: per-cell residual product quantization — the
  * final piece of the FAISS IndexIVFPQ architecture (r5 verdict's
  * design-headroom item) — and intra-document repeated-block
  * scrubbing.
  */
object Round6 {
  val defs: Seq[QueryDef] = Seq(

    // ---- intra-document repeated-block scrub: consecutive 8-word
    // blocks, first occurrence kept in order. Map-side only; the
    // within-doc counterpart of the cross-doc dedup family.
    QueryDef("q89_block_scrub",
      (s, dir) => Curation
        .dedupBlocks(t("documents")(s, dir), "text", "doc_id",
          blockWords = 8)
        .orderBy(col("doc_id")),
      Some("""WITH w AS (SELECT doc_id, list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0) AS ws FROM documents),
             |c AS (SELECT doc_id, ws, unnest(generate_series(0,
             |    CAST(ceil(len(ws) / 8.0) AS INT) - 1)) AS i
             |  FROM w WHERE len(ws) > 0),
             |ch AS (SELECT doc_id, i,
             |    array_to_string(ws[i*8+1 : i*8+8], ' ') AS chunk
             |  FROM c),
             |k AS (SELECT doc_id, i, chunk,
             |    min(i) OVER (PARTITION BY doc_id, chunk) AS fi
             |  FROM ch),
             |agg AS (SELECT doc_id, COUNT(*) AS n_blocks,
             |    COUNT(*) FILTER (i != fi) AS n_removed,
             |    string_agg(chunk, ' ' ORDER BY i) FILTER (i = fi)
             |      AS cleaned
             |  FROM k GROUP BY doc_id)
             |SELECT d.doc_id,
             |  CAST(COALESCE(n_blocks, 0) AS BIGINT) AS n_blocks,
             |  CAST(COALESCE(n_removed, 0) AS BIGINT) AS n_removed,
             |  COALESCE(cleaned, '') AS cleaned
             |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ---- IVF-PQ with residual encoding: candidates PQ-code their
    // offset from their cell centroid, queries build a distance table
    // per probed cell. Same joins as q87; only the (broadcast) table
    // grows by ×nprobe. Deterministic seeding end-to-end, so the
    // oracle replays cell assignment, residual codebooks, codes, and
    // the per-cell ADC sums exactly. Deliberately SEEDED
    // (acknowledgeSeeded): this row is the baseline the trained
    // q106 row (Round9) is A/B'd against, not a production path.
    QueryDef("q88_ivfpq_residual",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        Similarity.ivfPqResidualTopK(emb.filter(col("vec_id") < 12), emb,
            k = 5, nCells = 8, nprobe = 2, dims = 64, m = 8,
            nCentroids = 16, acknowledgeSeeded = true)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH ${oSeededCells()},
              |${oResidualSearch("ccen", "cel_id", "cele")}""".stripMargin)),

    // ---- packing-efficiency audit over q79's bins: per stratum, how
    // many context windows the greedy packing filled and the fill
    // ratio (total tokens over capacity through the last-used bin) —
    // the padding-waste number a pretraining batch pipeline reports.
    // Strata-sized aggregation on top of the distributed prefix sum.
    QueryDef("q90_pack_audit",
      (s, dir) => Curation
        .packSequences(t("documents")(s, dir), "text", "doc_id",
          strataCol = "lang", window = 2048L, blocks = 8)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          (max(col("bin")) + 1).as("n_bins"),
          round(sum(col("n_tokens")) /
            ((max(col("bin")) + 1) * 2048.0), 6).as("fill_ratio"))
        .orderBy(col("lang")),
      Some("""WITH tok AS (SELECT doc_id, lang,
             |    CAST(len(list_filter(
             |      string_split_regex(lower(text), '\s+'),
             |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (SELECT doc_id, lang, n_tokens,
             |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
             |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND 1 PRECEDING), 0) AS cum FROM tok),
             |b AS (SELECT lang, n_tokens,
             |    CAST(floor(cum / 2048) AS BIGINT) AS bin FROM c)
             |SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             |  CAST(MAX(bin) + 1 AS BIGINT) AS n_bins,
             |  round(SUM(n_tokens) / ((MAX(bin) + 1) * 2048.0), 6)
             |    AS fill_ratio
             |FROM b GROUP BY lang ORDER BY lang""".stripMargin)))
}
