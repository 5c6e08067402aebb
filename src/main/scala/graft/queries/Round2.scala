package graft.queries

import graft.operators.{Dedup, Scd2, TextOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-2 additions: explicit GROUPING SETS (the one grouping surface
  * q13/q14 didn't spell out), a first-class SCD2 dimension build, TF-IDF
  * term scoring, and benchmark decontamination — each oracle-checked.
  */
object Round2 {
  val defs: Seq[QueryDef] = Seq(

    // ---- explicit GROUPING SETS via the Spark 4 Dataset API (rollup and
    // cube are q13/q14; this is the arbitrary-sets form with grouping_id)
    QueryDef("q52_grouping_sets",
      (s, dir) => t("lineitem")(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"),
          grouping_id().cast("bigint").as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus")),
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              |  ${oSum("l_quantity")} AS qty,
              |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
              |FROM lineitem
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
              |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)),

    // ---- SCD2 build: compress the event log into validity windows per
    // (user, value)-run — latest-writer-wins at equal timestamps, then
    // one shuffle total (change-detect + lead share partitioning/order).
    // The reference only CONSUMES such windows (fact_customer_task.py:
    // 60-61); here building them is a first-class distributed operator.
    QueryDef("q53_scd2_build",
      (s, dir) => {
        val log = userValueLog(s, dir)
        // open-end sentinel must stay inside int64 NANOSECOND range
        // (max 2262-04-11): the driver's compare reads the parquet dump
        // at ns precision, and 9999-12-31 silently wraps to 1816
        Scd2.build(log, Seq("user_id"), "ts", Seq("value"),
            lit("2200-01-01 00:00:00").cast("timestamp"))
          .select(col("user_id"), col("value"),
            col("valid_from"), col("valid_to"))
          .orderBy(col("user_id"), col("valid_from"))
      },
      Some(oScd2History)),

    // ---- TF-IDF term scoring, top-5 terms per document. The idf is the
    // LINEAR N/df variant scaled to exact integers ((tf·N·1e6) div df):
    // floating ln() differs in last-ulp between libm implementations, and
    // an integer score is bit-identical across engines by construction —
    // ranking behavior (rare-term upweighting) is preserved.
    QueryDef("q54_tfidf",
      (s, dir) => {
        val wdf = TextOps.wordRows(t("documents")(s, dir), "text",
          keep = Seq("doc_id"))
        // tf feeds three branches (scores, document frequency, corpus
        // size); without persist each branch re-tokenizes the corpus —
        // .explain showed 3 full FileScan+explode+aggregate copies
        val tf = wdf.groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("tf"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val dfq = tf.groupBy(col("word")).agg(count(lit(1)).as("dfq"))
        val n = tf.agg(countDistinct(col("doc_id")).as("n_docs"))
        tf.filter(col("doc_id") < 20)
          .join(broadcast(dfq), "word")
          .crossJoin(broadcast(n))
          .withColumn("score", expr("(tf * n_docs * 1000000) div dfq"))
          .withColumn("rank", row_number().over(Window
            .partitionBy(col("doc_id"))
            .orderBy(col("score").desc, col("word"))).cast("bigint"))
          .filter(col("rank") <= 5)
          .select(col("doc_id"), col("word"), col("score"), col("rank"))
          .orderBy(col("doc_id"), col("rank"))
      },
      Some("""WITH w AS (SELECT doc_id, unnest(list_filter(
             |    string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0)) AS word FROM documents),
             |tf AS (SELECT doc_id, word, COUNT(*) AS tf
             |  FROM w GROUP BY 1, 2),
             |dfq AS (SELECT word, COUNT(*) AS dfq FROM tf GROUP BY 1),
             |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
             |sc AS (SELECT t.doc_id, t.word,
             |    (t.tf * n.n_docs * 1000000) // d.dfq AS score
             |  FROM tf t JOIN dfq d USING (word) CROSS JOIN n
             |  WHERE t.doc_id < 20),
             |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             |    ORDER BY score DESC, word) AS rank FROM sc)
             |SELECT doc_id, word, score, CAST(rank AS BIGINT) AS rank
             |FROM r WHERE rank <= 5
             |ORDER BY doc_id, rank""".stripMargin)),

    // ---- benchmark decontamination: flag training docs sharing any
    // 8-word shingle with the held-out/benchmark set (doc_id % 7 = 0) —
    // the standard n-gram-overlap eval-contamination check. Inverted-
    // index join on the shingle: the benchmark side is tiny and
    // broadcasts; no quadratic doc×doc comparison ever materializes.
    QueryDef("q55_decontaminate",
      (s, dir) => {
        // The bench and candidate branches both read the shingle set —
        // persisted, the corpus is shingled once, not twice, the
        // join/count key is an 8-byte long (smaller broadcast table,
        // cheaper probes), and the oracle replays the same hash family.
        val sh = Dedup.hashedShingleSet(t("documents")(s, dir),
            "doc_id", "text", n = 8)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val bench = sh.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id").as("bench_id"), col("h"))
        val cand = sh.filter(col("doc_id") % 7 =!= 0)
        cand.join(broadcast(bench), "h")
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("h")).as("n_shared"),
            countDistinct(col("bench_id")).as("n_bench"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (SELECT doc_id,
             |  list_filter(string_split_regex(lower(text), '\s+'),
             |    x -> len(x) > 0) AS ws FROM documents),
             |idx AS (SELECT doc_id, ws,
             |  unnest(generate_series(1, len(ws) - 7)) AS i
             |  FROM w WHERE len(ws) >= 8),
             |sh AS (SELECT DISTINCT doc_id,
             |  ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
             |  ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' ||
             |  ws[i+6] || ' ' || ws[i+7] AS s FROM idx),
             |hs AS (SELECT doc_id, CAST(concat('0x', substr(md5(s), 1,
             |  15)) AS BIGINT) AS h FROM sh),
             |bench AS (SELECT doc_id AS bench_id, h FROM hs
             |  WHERE doc_id % 7 = 0),
             |cand AS (SELECT doc_id, h FROM hs WHERE doc_id % 7 <> 0)
             |SELECT c.doc_id, COUNT(DISTINCT c.h) AS n_shared,
             |  COUNT(DISTINCT b.bench_id) AS n_bench
             |FROM cand c JOIN bench b ON c.h = b.h
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- cohort retention: users grouped by first-activity day, distinct
    // actives per whole-week offset — the standard event-pipeline cohort
    // matrix. Week offsets via integer day arithmetic (identical in both
    // engines; no engine-specific week-truncation semantics).
    QueryDef("q56_cohort_retention",
      (s, dir) => {
        val ev = t("events")(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("d"))
        val cohort = ev.groupBy(col("user_id"))
          .agg(min(col("d")).as("cohort_day"))
        ev.join(cohort, "user_id")
          .withColumn("week_k",
            floor(datediff(col("d"), col("cohort_day")) / 7)
              .cast("bigint"))
          .groupBy(col("cohort_day"), col("week_k"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .orderBy(col("cohort_day"), col("week_k"))
      },
      Some("""WITH ev AS (SELECT user_id,
             |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
             |cohort AS (SELECT user_id, min(d) AS cohort_day
             |  FROM ev GROUP BY 1)
             |SELECT c.cohort_day,
             |  CAST(floor(date_diff('day', c.cohort_day, e.d) / 7)
             |    AS BIGINT) AS week_k,
             |  COUNT(DISTINCT e.user_id) AS n_active
             |FROM ev e JOIN cohort c USING (user_id)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- deterministic hash sampling, stratified by source: the
    // reproducible-sampling pattern (hash the stable id, take buckets
    // < rate·100) — re-runnable on any engine with identical membership,
    // unlike seeded RNG sampling. Reports per-stratum sampled counts.
    QueryDef("q57_hash_sample",
      (s, dir) => {
        val docs = t("documents")(s, dir)
        val bucket = graft.operators.TextOps.hash60(
          col("doc_id").cast("string")) % 100
        docs.withColumn("b", bucket)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_total"),
            count(when(col("b") < 10, 1)).as("n_sampled"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, COUNT(*) AS n_total,
             |  COUNT(*) FILTER (CAST(concat('0x', substr(
             |    md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
             |    < 10) AS n_sampled
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ---- the whole-operator as-of join (custom LogicalPlan → Strategy
    // → SparkPlan, graft.plans.AsOfJoinExec) under the SAME oracle as
    // the composed q43: DuckDB's native ASOF JOIN — the custom physical
    // operator itself is hash-checked by the driver, not only
    // spec-compared to the composed twin
    QueryDef("q58_asof_native",
      (s, dir) => {
        val (clicks, errors) = clicksAndErrors(s, dir)
        graft.operators.AsOf.joinNative(clicks, errors, Seq("user_id"),
            "ts", "err_ts", Seq("err_ts", "err_value"))
          .orderBy(col("event_id"))
      },
      Some(oAsOfClickErrors))
  )
}
