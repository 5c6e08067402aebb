package graft.queries

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Round-11 continuation 5 (q270-q273): the two remaining classic
  * text-dedup arms — line-level exact dedup (CCNet/C4 boilerplate
  * removal with keep-first semantics and reassembly) and
  * cross-document duplicated-substring spans (the stride-sampled
  * distributed shape of Lee et al. 2021 exact-substring dedup) — plus
  * the streaming watermark-dedup's deterministic batch twin and Flesch
  * reading-ease in exact integer micro-points.
  */
object Round11e {
  val defs: Seq[QueryDef] = Seq(

    // ---- line-level exact dedup: the corpus is single-line word
    // salad, so each doc is decorated (q264 pattern) into three
    // lines — a header shared by ALL docs, the body, and a footer
    // shared by every doc_id%3=0 doc (others get a short unique
    // footer, below the minChars=15 dedup floor → always kept, the
    // ineligible-line branch). Keep-first: only the smallest
    // (doc_id, pos) copy of each eligible line survives.
    QueryDef("q270_line_dedup",
      (s, dir) => {
        val deco = t("documents")(s, dir).select(col("doc_id"),
          concat_ws("\n",
            lit("=== corpus boilerplate header ==="),
            col("text"),
            when(col("doc_id") % 3 === 0,
              lit("standard shared footer line"))
              .otherwise(concat(lit("uf "), col("doc_id"))))
            .as("text"))
        Dedup.lineDedup(deco, "doc_id", "text", minChars = 15)
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |    '=== corpus boilerplate header ===' || chr(10) ||
             |    text || chr(10) ||
             |    CASE WHEN doc_id % 3 = 0
             |      THEN 'standard shared footer line'
             |      ELSE 'uf ' || doc_id END AS text
             |  FROM documents),
             |sp AS (SELECT doc_id, string_split(text, chr(10)) AS ls
             |  FROM d),
             |l AS (SELECT doc_id,
             |    unnest(generate_series(1, len(ls))) AS pos1, ls
             |  FROM sp),
             |lf AS (SELECT doc_id, CAST(pos1 - 1 AS BIGINT) AS pos,
             |    ls[CAST(pos1 AS INT)] AS line FROM l),
             |fr AS (SELECT line, doc_id AS fid, pos AS fpos FROM (
             |    SELECT line, doc_id, pos, ROW_NUMBER() OVER (
             |      PARTITION BY line ORDER BY doc_id, pos) AS rn
             |    FROM lf WHERE len(line) >= 15) WHERE rn = 1),
             |fl AS (SELECT lf.doc_id, lf.pos, lf.line,
             |    (fr.line IS NULL OR (lf.doc_id = fr.fid
             |      AND lf.pos = fr.fpos)) AS keep
             |  FROM lf LEFT JOIN fr ON lf.line = fr.line)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
             |  CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
             |    AS n_removed,
             |  COALESCE(string_agg(CASE WHEN keep THEN line END,
             |    chr(10) ORDER BY pos), '') AS text_dedup
             |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- duplicated-substring spans: stride-sampled 40-char windows
    // over the RAW corpus (near-dup docs exist by construction —
    // ~4.5% of windows recur across docs); windows in ≥2 docs merge
    // into per-doc contiguous spans; dup_ppm = duplicated-char share.
    QueryDef("q271_dup_spans",
      (s, dir) => Dedup.duplicatedSpans(t("documents")(s, dir),
          "doc_id", "text", winLen = 40, stride = 7, minDocs = 2)
        .orderBy(col("doc_id")),
      Some("""WITH docs AS (SELECT doc_id, text,
             |    CAST(len(text) AS BIGINT) AS dlen
             |  FROM documents WHERE len(text) >= 40),
             |w0 AS (SELECT doc_id, dlen, text, unnest(generate_series(
             |    1, CAST(dlen AS INT) - 40 + 1, 7)) AS p FROM docs),
             |w AS (SELECT doc_id, dlen, CAST(p AS BIGINT) AS p,
             |    substring(text, CAST(p AS INT), 40) AS win FROM w0),
             |dup AS (SELECT win FROM (SELECT win,
             |    COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY 1)
             |  WHERE nd >= 2),
             |s AS (SELECT doc_id, p, p + 39 AS pe
             |  FROM w JOIN dup USING (win)),
             |f AS (SELECT doc_id, p, pe, MAX(pe) OVER (
             |    PARTITION BY doc_id ORDER BY p
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |    AS pm FROM s),
             |g AS (SELECT doc_id, p, pe, CASE WHEN pm IS NULL
             |    OR p > pm + 1 THEN 1 ELSE 0 END AS isn FROM f),
             |h AS (SELECT doc_id, p, pe, SUM(isn) OVER (
             |    PARTITION BY doc_id ORDER BY p
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS island FROM g),
             |isl AS (SELECT doc_id, island, COUNT(*) AS n_w,
             |    MIN(p) AS i_s, MAX(pe) AS i_e FROM h GROUP BY 1, 2),
             |pd AS (SELECT doc_id,
             |    CAST(SUM(n_w) AS BIGINT) AS n_dup_windows,
             |    CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
             |    CAST(SUM(i_e - i_s + 1) AS BIGINT) AS dup_chars
             |  FROM isl GROUP BY 1),
             |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT)
             |    AS n_windows, ANY_VALUE(dlen) AS dlen
             |  FROM w GROUP BY 1)
             |SELECT t.doc_id, t.n_windows,
             |  COALESCE(pd.n_dup_windows, 0) AS n_dup_windows,
             |  COALESCE(pd.n_dup_spans, 0) AS n_dup_spans,
             |  COALESCE(pd.dup_chars, 0) AS dup_chars,
             |  CAST((1000000 * COALESCE(pd.dup_chars, 0)) // t.dlen
             |    AS BIGINT) AS dup_ppm
             |FROM tot t LEFT JOIN pd USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // ---- streaming watermark-dedup batch twin (q165/q246 pattern):
    // an at-least-once transport re-delivers every event_id%5=0 event
    // one minute later with a MUTATED value (+1) — keepFirstPerKey's
    // min-struct policy deterministically keeps the ts-first original
    // (dropDuplicates would keep an arbitrary copy; the streaming arm
    // keeps first ARRIVAL — EventStreamsSpec pins the parity on
    // identical-row redelivery). Aggregated per type after dedup, so
    // skipping the dedup OR keeping last-instead-of-first hash-fails.
    QueryDef("q272_stream_dedup_twin",
      (s, dir) => {
        val ev = t("events")(s, dir)
        val redelivered = ev.unionAll(
          ev.where(col("event_id") % 5 === 0)
            .withColumn("ts", col("ts") + expr("interval 1 minute"))
            .withColumn("value", col("value") + 1.0))
        Dedup.keepFirstPerKey(redelivered, Seq("event_id"), Seq("ts"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,6)")).cast("double")
              .as("sum_value"))
          .orderBy(col("event_type"))
      },
      Some("""WITH re AS (
             |  SELECT event_id, ts, user_id, event_type, value, props
             |    FROM events
             |  UNION ALL
             |  SELECT event_id, ts + INTERVAL 1 MINUTE, user_id,
             |      event_type, value + 1, props
             |    FROM events WHERE event_id % 5 = 0),
             |k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
             |    ORDER BY ts, user_id, event_type, value, props) AS rn
             |  FROM re)
             |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
             |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             |    AS sum_value
             |FROM k WHERE rn = 1 GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ---- Flesch reading ease, exact integer micro-points: the corpus
    // is punctuation-free, so sentence ends are decorated per doc_id
    // branch (q264 pattern) — every counting rule (words, [.!?] ends,
    // vowel-run syllables) then varies across docs.
    QueryDef("q273_flesch",
      (s, dir) => {
        val deco = t("documents")(s, dir).select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(col("text"), lit(". Short tail. Done.")))
            .when(col("doc_id") % 4 === 1,
              concat(col("text"), lit(" and a longer appended clause"
                + " stretching the final sentence considerably!")))
            .when(col("doc_id") % 4 === 2,
              concat(col("text"), lit(" Two halves? Yes.")))
            .otherwise(col("text")).as("text"))
        graft.operators.TextOps.fleschReadability(deco, "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, CASE
             |    WHEN doc_id % 4 = 0 THEN text || '. Short tail. Done.'
             |    WHEN doc_id % 4 = 1 THEN text ||
             |      ' and a longer appended clause' ||
             |      ' stretching the final sentence considerably!'
             |    WHEN doc_id % 4 = 2 THEN text || ' Two halves? Yes.'
             |    ELSE text END AS text FROM documents),
             |m AS (SELECT doc_id,
             |    CAST(len(list_filter(string_split_regex(lower(text),
             |      '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_words,
             |    GREATEST(CAST(len(regexp_replace(text, '[^.!?]', '',
             |      'g')) AS BIGINT), 1) AS n_sentences,
             |    GREATEST(CAST(len(regexp_replace(lower(text),
             |        '[aeiouy]+', 'V', 'g')) AS BIGINT)
             |      - CAST(len(regexp_replace(lower(text), '[aeiouy]',
             |        '', 'g')) AS BIGINT), 1) AS n_syllables
             |  FROM d)
             |SELECT doc_id, n_words, n_sentences, n_syllables,
             |  206835000 - (1015000 * n_words) // n_sentences
             |    - (84600000 * n_syllables) // GREATEST(n_words, 1)
             |    AS flesch_micro
             |FROM m ORDER BY doc_id""".stripMargin)))
}
