package graft.operators

import graft.sink.Parquet
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: repetition
  * scoring (the signal behind quality filters that drop boilerplate and
  * degenerate generations), document-frequency stopword pruning, and
  * config-driven stratified sampling.
  *
  * Scale contracts (100 TB):
  *  - [[repetitionStats]] is ENTIRELY map-side: every metric is a
  *    higher-order-function fold over the per-row token array, so there
  *    is no shuffle at all — the operator scales with the scan.
  *  - [[dfPruneCounts]] shuffles once to build the document-frequency
  *    table, reduces the stop set to a handful of rows, and BROADCASTS
  *    it back against the token stream — the token-side join never
  *    shuffles the corpus.
  *  - [[stratifiedSample]] joins the (tiny) per-stratum rate table as a
  *    broadcast, not a giant CASE: rates live in data, so adding a
  *    stratum is a config row, and the sampling predicate itself is a
  *    deterministic md5 bucket (reproducible across engines and runs).
  */
object Curation {

  /** Per-document repetition metrics, all integers (hash-stable across
    * engines, no float accumulation):
    *
    *  - `n_words`     — token count (multiplicity kept);
    *  - `n_distinct_words` — vocabulary size of the doc;
    *  - `top_bigram_n` — occurrences of the doc's most frequent word
    *    bigram (0 when fewer than 2 words): the Rae et al. (Gopher)
    *    style duplicate-n-gram signal; high value ⇒ looping/boilerplate.
    *
    * The most-frequent-bigram count is computed WITHOUT exploding, by
    * the native one-pass [[graft.functions.CurationStatsKernel]] (hash
    * counting; no sort, no interpreted lambdas) — the declarative
    * sort-the-bigrams-then-fold twin below measured ~1.4 ms/doc, ~50×
    * the kernel, because every HOF step allocates per element.
    * Everything stays inside whole-stage codegen on the scan.
    */
  def repetitionStats(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val st = graft.functions.CurationStats.repStats(col(textCol))
    df.select(
      col(idCol),
      element_at(st, 1).as("n_words"),
      element_at(st, 2).as("n_distinct_words"),
      element_at(st, 3).as("top_bigram_n"))
  }

  /** Declarative twin of [[repetitionStats]] (HOF fold over the sorted
    * bigram array) — kept as the cross-check oracle for the native
    * kernel (CurationSpec asserts equality) and as the fallback shape
    * for engines without expression extensions.
    */
  private[graft] def repetitionStatsDeclarative(df: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val ws = TextOps.words(col(textCol))
    val bgs = when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1),
        i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1))))
      .otherwise(array().cast("array<string>"))
    val sorted = array_sort(bgs)
    // fold state: (prev element, current run length, best run length)
    val top = aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (st, x) => {
        val run = when(x === st.getField("prev"), st.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(st.getField("best"), run).as("best"))
      },
      st => st.getField("best"))
    df.select(
      col(idCol),
      size(ws).cast("bigint").as("n_words"),
      size(array_distinct(ws)).cast("bigint").as("n_distinct_words"),
      top.cast("bigint").as("top_bigram_n"))
  }

  /** Per-document quality verdict composed from the [[repetitionStats]]
    * signals — the shape of a production quality filter (Gopher/C4
    * rules): each doc gets the FIRST matching rejection reason, in
    * fixed precedence, or `kept`.
    *
    *  - `too_short`      — fewer than `minWords` tokens;
    *  - `repetitive`     — the top bigram covers ≥ 1/`repMul` of the
    *    doc's tokens (`top_bigram_n · repMul ≥ n_words`);
    *  - `low_diversity`  — vocabulary under 1/`divMul` of tokens
    *    (`n_distinct · divMul < n_words`).
    *
    * All comparisons are integer (multiplier form, no float ratios), so
    * verdicts are bit-identical across engines. Inherits
    * [[repetitionStats]]'s no-shuffle contract: the gate is a scan.
    */
  def qualityGate(df: DataFrame, textCol: String, idCol: String,
      minWords: Int = 40, repMul: Int = 10, divMul: Int = 2): DataFrame =
    repetitionStats(df, textCol, idCol).select(
      col(idCol),
      when(col("n_words") < minWords, "too_short")
        .when(col("top_bigram_n") * repMul >= col("n_words"), "repetitive")
        .when(col("n_distinct_words") * divMul < col("n_words"),
          "low_diversity")
        .otherwise("kept").as("reason"))

  /** Per-document token counts after document-frequency pruning: tokens
    * whose word appears in more than `maxDfFrac` of all documents are
    * "removed" (the df-based stopword rule used to strip boilerplate
    * vocabulary before dedup/indexing). Returns
    * `(idCol, n_tokens, n_kept, n_removed)`.
    *
    * Plan shape: one tokenize-explode pass (rebalanced Generator — see
    * [[TextOps.wordRows]]), distinct (doc, word) → df aggregation, a
    * tiny high-df stop set, then a BROADCAST left join of the stop set
    * back onto the token stream. The corpus-sized side never shuffles;
    * at 100 TB only the (vocabulary-sized) df aggregation exchanges
    * data, with partial aggregation upstream.
    *
    * The token stream is evaluated twice (df pass + count pass) — two
    * linear scans, deliberately NOT persisted here: the result is lazy,
    * so this function has no release point for a cache block (the leak
    * class [[Freq.heavyHitterCounts]] documents). Callers who want the
    * single-scan version should persist `docs` themselves and unpersist
    * after the action.
    */
  def dfPruneCounts(docs: DataFrame, textCol: String, idCol: String,
      maxDfFrac: Double): DataFrame = {
    val words = TextOps.wordRows(docs, textCol, keep = Seq(idCol))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val wordDf = words.select(col(idCol), col("word")).distinct()
      .groupBy(col("word")).agg(count(lit(1)).as("df"))
    val stop = wordDf.crossJoin(broadcast(nDocs))
      .filter(col("df") > col("n_docs") * maxDfFrac)
      .select(col("word"), lit(1).as("is_stop"))
    words.join(broadcast(stop), Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("is_stop").isNull, 1)).as("n_kept"),
        count(when(col("is_stop").isNotNull, 1)).as("n_removed"))
  }

  /** Deterministic stratified sampling: keep a row when its md5 bucket
    * (over `keyCol`, 100 buckets) falls below its stratum's percentage.
    * `rates` maps stratum value → sampling percentage [0,100];
    * `defaultPct` applies to strata not in the map. The rate table
    * rides a broadcast join (config-in-data, not a hardcoded CASE), so
    * strata and rates can come from a file at 100 TB.
    *
    * Returns the input plus `sample_keep: boolean` — callers filter on
    * it (kept as a column so audits can count both sides in one pass).
    */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
      rates: Map[String, Int], defaultPct: Int)
      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rateDf = rates.toSeq.toDF(strataCol, "pct")
    val bucket = TextOps.hash60(col(keyCol).cast("string")) % 100
    df.join(broadcast(rateDf), Seq(strataCol), "left")
      .withColumn("pct", coalesce(col("pct"), lit(defaultPct)))
      .withColumn("sample_keep", bucket < col("pct"))
      .drop("pct")
  }

  /** Weighted sampling without replacement — the A-ES key method
    * (Efraimidis & Spirtakis 2006, "Weighted random sampling with a
    * reservoir"): give each row the key `u^(1/w)` with `u` uniform in
    * (0, 1] and keep the k largest keys; the result is distributed
    * exactly as sequential weighted draws without replacement. The
    * mixture-building primitive when strata are continuous (sample
    * proportional to length/quality/freshness) rather than the
    * discrete buckets of [[stratifiedSample]].
    *
    * Like every sampling step here, `u` is a PURE FUNCTION of the row
    * key (salted md5, [[TextOps.hash60]]), not a seeded RNG: the
    * sample is reproducible across runs, engines, partitionings and
    * cluster sizes — the training-data-lineage requirement — and a
    * SQL oracle can replay the entire draw.
    *
    * Scale shape: key derivation is map-side; the top-k is
    * `orderBy(...).limit(k)` which Spark plans as TakeOrdered —
    * per-partition top-k heaps merged on the driver (k·partitions
    * rows), never a global sort/shuffle of the corpus.
    *
    * Determinism at the boundary: keys are rounded to 6 decimals with
    * ties broken by the row key ascending, so selection is total-order
    * deterministic cross-engine. Rows with weight ≤ 0 or NULL are
    * excluded (A-ES requires w > 0).
    *
    * Output: `(keyCol, weight, skey)`, the k selected rows.
    */
  /** Per-stratum [[weightedSample]]: k A-ES draws within EACH stratum
    * (balanced corpus subsets — "top-k weighted docs per language"),
    * one `row_number` window partitioned by the stratum instead of a
    * global TakeOrdered. Same key arithmetic, same reproducibility
    * contract; strata with fewer than k positive-weight rows return
    * all of them. Output adds `(strataCol, rank)`.
    */
  def weightedSamplePerStratum(df: DataFrame, strataCol: String,
      keyCol: String, weightCol: String, k: Int,
      salt: String = "wrs"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = (TextOps.hash60(concat(lit(salt + "|"),
      col(keyCol).cast("string"))) + 1).cast("double") /
      lit(1152921504606846976.0)
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("skey").desc, col(keyCol))
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .select(col(strataCol), col(keyCol),
        col(weightCol).cast("bigint").as("weight"),
        round(pow(u, lit(1.0) / col(weightCol).cast("double")), 6)
          .as("skey"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
      k: Int, salt: String = "wrs"): DataFrame = {
    val u = (TextOps.hash60(concat(lit(salt + "|"),
      col(keyCol).cast("string"))) + 1).cast("double") /
      lit(1152921504606846976.0) // 2^60: u ∈ (0, 1]
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .select(col(keyCol),
        col(weightCol).cast("bigint").as("weight"),
        round(pow(u, lit(1.0) / col(weightCol).cast("double")), 6)
          .as("skey"))
      .orderBy(col("skey").desc, col(keyCol))
      .limit(k)
  }

  /** Per-document corpus-unigram log-likelihood — the classic cheap
    * LM-quality proxy (a KenLM stand-in): score each document by the
    * mean log-probability of its tokens under the corpus's own unigram
    * distribution. Gibberish / rare-token soup scores low; documents
    * made of common vocabulary score high. Returns
    * `(idCol, n_tokens, avg_logp)`.
    *
    * Plan shape: per-doc term frequencies reduce the token stream with
    * a partial+final aggregation BEFORE any join (the tf table is
    * vocabulary×docs sized, far smaller than the token stream); the
    * unigram model itself is a second (vocabulary-sized) aggregation
    * joined back by word. Nothing corpus-sized shuffles twice.
    *
    * Determinism: each word's log-prob is rounded to 6 decimals and
    * cast to DECIMAL before the weighted per-doc sum, making the
    * accumulation exact/associative (partition-order-proof) and
    * cross-engine stable; only the final mean divides in double.
    */
  def unigramLogProb(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val words = TextOps.wordRows(docs, textCol, keep = Seq(idCol))
    val tf = words.groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("tf"))
    val counts = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("n_total"))
    val logp = counts.crossJoin(broadcast(total))
      .select(col("word"),
        round(log(col("cnt") / col("n_total")), 6)
          .cast("decimal(20,6)").as("logp"))
    meanLogp6(tf.join(logp, Seq("word"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("logp") * col("tf")).as("s")), idCol, "n_tokens")
  }

  /** Bigram language-model scoring — the conditional-probability
    * counterpart of [[unigramLogProb]], the next rung of the standard
    * perplexity-filter ladder: per document, the mean log P(w₂|w₁)
    * under an add-one-smoothed corpus bigram model,
    * `P(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁·) + V)` with `c(w₁·)` the
    * context count (occurrences of w₁ as a bigram head) and `V` the
    * bigram-model vocabulary (distinct words observed in any bigram,
    * head or tail — a word occurring only as the sole token of a
    * 1-word document never reaches the model, so it doesn't smooth
    * it either). Repeated boilerplate scores high; incoherent word
    * salad scores low even when its unigrams are common — the signal
    * the unigram model cannot see.
    *
    * Determinism discipline (same as [[unigramLogProb]]): each bigram's
    * log-probability is rounded to 6 decimals and carried as
    * DECIMAL(20,6), so per-document sums are exact integer arithmetic —
    * order-independent and engine-portable; the final mean's 6-decimal
    * rounding is ALSO decided in exact integer micro-units
    * ([[meanLogp6]]), so no float enters until the already-rounded
    * result. Documents with fewer than 2 words have no bigrams and are
    * omitted.
    *
    * Plan shape: ONE corpus pass total. The bigram explode (map-side
    * zip of the token array with its own tail) feeds one (doc, w₁, w₂)
    * partial+final aggregation which is MATERIALIZED
    * (`localCheckpoint`) — the DataFrame API has no common-subplan
    * reuse, so without it the corpus and context counts and the
    * scoring join would each replay the tokenize + explode + aggregate
    * (measured 3× the dominant cost at toy scale, same ratio at
    * 100 TB). From the materialized `tf` (bigram-vocab × docs sized,
    * far smaller than the token stream): `cb`/`cw` are sums, `V` is a
    * distinct count, and the scoring join shuffles on the bigram key —
    * all linear in `tf`, nothing touches the corpus again. `V` is a
    * one-row broadcast.
    */
  def bigramLogProb(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val ws = TextOps.words(col(textCol))
    val bg = graft.Tables.rebalance(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(zip_with(
        // greatest(…, 0): slice() rejects negative lengths, and an
        // empty token array would ask for length -1
        slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
        slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val tf = bg.groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
      // localCheckpoint over persist(MEMORY_AND_DISK): A/B'd at sf0.1
      // (round 9) - persist measured WORSE on both passes (cold 3.04 s
      // vs 2.79, steady 4.03 vs 2.25): the lazy cache re-enters the
      // CacheManager lookup on every one of the four consumers while
      // the eager checkpoint truncates lineage once, and the
      // hypothesized checkpoint disk-write cost did not materialize
      // (blocks fit in memory at this scale).
      .localCheckpoint()
    val cb = tf.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("cb"))
    val cw = tf.groupBy(col("w1")).agg(sum(col("tf")).as("cw"))
    val vocab = tf.select(col("w1").as("word"))
      .union(tf.select(col("w2").as("word")))
      .agg(countDistinct(col("word")).as("v"))
    val logp = cb.join(cw, Seq("w1")).crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        round(log((col("cb") + 1) / (col("cw") + col("v"))), 6)
          .cast("decimal(20,6)").as("logp"))
    meanLogp6(tf.join(logp, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("logp") * col("tf")).as("s")), idCol, "n_bigrams")
  }

  /** DSIR importance log-ratios (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169):
    * per document, the mean log P_target(w)/P_raw(w) of its tokens
    * under two add-one-smoothed unigram models — the target model from
    * the `targetCol = true` rows (the domain exemplars), the raw model
    * from the WHOLE corpus — the paper's hashed-n-gram feature ratio
    * in its unigram form. Positive ⇒ the doc looks more like the
    * target domain than the raw corpus; [[dsirSample]] resamples by
    * it. Returns `(idCol, n_tokens, avg_logratio)`.
    *
    * Shared vocabulary V (the raw model's — a superset of the
    * target's) smooths both models, so a word unseen in the target set
    * gets the floor 1/(N_t+V), never −∞. Determinism: each model's
    * per-word log rounds to 6 decimals into DECIMAL(20,6) BEFORE the
    * subtraction, so the ratio column and the per-doc sums are exact
    * integer arithmetic (the q74 discipline); the mean rounds in
    * integer micro-units ([[meanLogp6]]).
    *
    * Plan shape: one token pass feeds per-doc tf + the two
    * vocab-sized count frames; the ratio table is vocab-sized and
    * joins tf by word; N/V are a one-row broadcast. Nothing
    * corpus-sized shuffles twice.
    */
  def dsirLogRatios(docs: DataFrame, textCol: String, idCol: String,
      targetCol: Column): DataFrame = {
    val words = TextOps.wordRows(
      docs.select(col(idCol), col(textCol), targetCol.as("is_target")),
      textCol, keep = Seq(idCol, "is_target"))
    val tf = words.groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("tf"))
    val rc = words.groupBy(col("word")).agg(count(lit(1)).as("rc"))
    val tc = words.filter(col("is_target"))
      .groupBy(col("word")).agg(count(lit(1)).as("tc"))
    val nv = rc.agg(sum(col("rc")).as("n_r"), count(lit(1)).as("v"))
      .crossJoin(tc.agg(coalesce(sum(col("tc")), lit(0L)).as("n_t")))
    val ratio = rc.join(tc, Seq("word"), "left")
      .crossJoin(broadcast(nv))
      .select(col("word"),
        (round(log((coalesce(col("tc"), lit(0L)) + 1) /
            (col("n_t") + col("v"))), 6).cast("decimal(20,6)") -
          round(log((col("rc") + 1) / (col("n_r") + col("v"))), 6)
            .cast("decimal(20,6)")).as("d"))
    meanLogp6(tf.join(ratio, Seq("word"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("d") * col("tf")).as("s")), idCol, "n_tokens")
      .withColumnRenamed("avg_logp", "avg_logratio")
  }

  /** DSIR selection: importance-resample `k` documents WITHOUT
    * replacement, proportionally to exp(avg_logratio) — the A-ES
    * weighted sampler ([[weightedSample]]) over integer-ppm weights
    * `round(exp(clamp(avg_logratio, ±13))·10⁶)` (the clamp keeps the
    * ppm weight inside BIGINT; exp of the identical 6-decimal double
    * is engine-identical, the q118 replay discipline). Docs whose
    * weight rounds to 0 ppm (avg_logratio < ~−13.8) are never
    * sampled — the resampling intent, documented. Output
    * `(idCol, weight, skey)` — the reproducible salted sample.
    */
  def dsirSample(docs: DataFrame, textCol: String, idCol: String,
      targetCol: Column, k: Int, salt: String = "dsir"): DataFrame = {
    val weighted = dsirLogRatios(docs, textCol, idCol, targetCol)
      .select(col(idCol),
        round(exp(least(greatest(col("avg_logratio"), lit(-13.0)),
          lit(13.0))) * 1000000, 0).cast("bigint").as("w_ppm"))
    weightedSample(weighted, idCol, "w_ppm", k, salt)
  }

  /** Stupid Backoff trigram scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation") — the next rung of the
    * q74/q100 perplexity-filter ladder and the web-scale LM the paper
    * built for exactly this job (quality-scoring trillions of tokens
    * without discount estimation): per held-out document, the mean
    * log S(w₃|w₁w₂) where
    *
    *   S(w₃|w₁w₂) = c(w₁w₂w₃)/c(w₁w₂·)      if the trigram was seen,
    *              = α·c(·w₂w₃)/c(·w₂·)       else if the (w₂,w₃)
    *                                          suffix was seen,
    *              = α²·(c(··w₃)+1)/(N+V₃)    otherwise (add-one floor,
    *                                          so OOV words score
    *                                          finite, never −∞),
    *
    * with α = 0.4 (the paper's constant) and EVERY count a marginal of
    * the one training trigram-count frame (c(w₁w₂·) = Σ_w₃,
    * c(·w₂w₃) = Σ_w₁, c(·w₂·) = Σ_w₁w₃, c(··w₃) = Σ_w₁w₂, N = Σ all,
    * V₃ = distinct w₃) — one documented degree of freedom that keeps
    * the whole model derivable from a single corpus pass. Training
    * rows are `trainCol = true`; all other docs are scored (backoff
    * actually fires — a model trained on the scored corpus itself
    * never backs off). Docs with < 3 tokens have no trigrams and are
    * omitted.
    *
    * Determinism: the q74 discipline verbatim — each branch's log is
    * rounded to 6 decimals and carried as DECIMAL(20,6) so per-doc
    * sums are exact; the final mean rounds in integer micro-units
    * ([[meanLogp6]]).
    *
    * Plan shape: ONE corpus pass builds the (doc, w₁, w₂, w₃, train)
    * trigram frame (map-side zip of the token array with its own two
    * tails, `localCheckpoint`'d); the five marginals are vocab-sized
    * map-side-combined aggregations of the TRAINING trigram counts;
    * scoring is the held-out tf frame LEFT-joined to the marginals on
    * their own keys (no corpus re-scan), N/V₃ a one-row broadcast.
    */
  def stupidBackoffScores(docs: DataFrame, textCol: String,
      idCol: String, trainCol: Column,
      alpha: Double = 0.4): DataFrame = {
    val tg = graft.Tables.rebalance(
        docs.select(col(idCol), col(textCol), trainCol.as("is_train")))
      .select(col(idCol), col("is_train"),
        TextOps.words(col(textCol)).as("ws"))
      .select(col(idCol), col("is_train"), explode(zip_with(
        zip_with(
          slice(col("ws"), lit(1), greatest(size(col("ws")) - 2, lit(0))),
          slice(col("ws"), lit(2), greatest(size(col("ws")) - 2, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2"))),
        slice(col("ws"), lit(3), greatest(size(col("ws")) - 2, lit(0))),
        (p, c) => struct(p.getField("w1").as("w1"),
          p.getField("w2").as("w2"), c.as("w3")))).as("t"))
      .select(col(idCol), col("is_train"), col("t.w1").as("w1"),
        col("t.w2").as("w2"), col("t.w3").as("w3"))
      .localCheckpoint()
    val c3 = tg.filter(col("is_train"))
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3"))
      .localCheckpoint() // feeds all five marginals + the score join
    val c12 = c3.groupBy(col("w1"), col("w2")).agg(sum("c3").as("c12"))
    val c23 = c3.groupBy(col("w2"), col("w3")).agg(sum("c3").as("c23"))
    val c2m = c3.groupBy(col("w2")).agg(sum("c3").as("c2m"))
    val c3u = c3.groupBy(col("w3")).agg(sum("c3").as("c3u"))
    val nv = c3.agg(sum("c3").as("n_tg"),
      countDistinct(col("w3")).as("v3"))
    val tf = tg.filter(!col("is_train"))
      .groupBy(col(idCol), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("tf"))
    val logS =
      when(col("c3").isNotNull,
        round(log(col("c3") / col("c12")), 6))
      .when(col("c23").isNotNull,
        round(log(lit(alpha) * col("c23") / col("c2m")), 6))
      // lit(α)·lit(α), not lit(α²): both engines then compute the
      // same IEEE product at runtime (a Scala-side α² would embed a
      // constant the oracle's own 0.4·0.4 fold must bit-match anyway)
      .otherwise(round(log(lit(alpha) * lit(alpha) *
        (coalesce(col("c3u"), lit(0L)) + 1) /
        (col("n_tg") + col("v3"))), 6))
      .cast("decimal(20,6)")
    meanLogp6(tf
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c12, Seq("w1", "w2"), "left")
      .join(c23, Seq("w2", "w3"), "left")
      .join(c2m, Seq("w2"), "left")
      .join(c3u, Seq("w3"), "left")
      .crossJoin(broadcast(nv))
      .select(col(idCol), col("tf"), logS.as("logp"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_trigrams"),
        sum(col("logp") * col("tf")).as("s")), idCol, "n_trigrams")
  }

  /** `avg_logp = round(s / n, 6)` with the rounding decided in EXACT
    * integer micro-units, not on a double quotient: `s` is a
    * DECIMAL(·,6) sum, so `s·10⁶` is an exact BIGINT and the half-
    * away-from-zero rounding of `s/n` to 6 decimals is
    * `sign(s) · (2·|s·10⁶| + n) DIV (2n)` — integer arithmetic both
    * engines reproduce bit-for-bit. The previous
    * `round(s::double / n, 6)` was latently engine-divergent: when the
    * exact quotient lands ON a 7th-decimal half-boundary (structural
    * here — a 6-decimal sum divided by a token count hits one whenever
    * `2n ∤ 2·s·10⁶` fails, e.g. n = 10 with an odd last digit), Spark
    * rounds the exact BigDecimal of the double while DuckDB rounds
    * `x·10⁶`, and the two can disagree by one final-digit ulp — found
    * by the full-catalog sf0.1 re-verification in round 9 (2 of 5000
    * docs). The final division by 10⁶ is exact-integer-over-constant,
    * IEEE-identical across engines.
    */
  private def meanLogp6(agg: DataFrame, idCol: String,
      nName: String): DataFrame =
    agg
      .withColumn("_sm", (col("s") * 1000000).cast("long"))
      .withColumn("_qm",
        when(col("_sm") < 0, lit(-1L)).otherwise(lit(1L)) *
          expr(s"(abs(_sm) * 2 + $nName) DIV ($nName * 2)"))
      .select(col(idCol), col(nName),
        (col("_qm") / lit(1000000.0)).as("avg_logp"))

  /** Neyman allocation for stratified sampling (Neyman 1934): split a
    * sample budget across strata ∝ n_l·σ_l — minimum-variance
    * estimation under a fixed budget, the step above
    * [[stratifiedSample]]'s given-rate contract (there the rates are
    * CHOSEN; here they are DERIVED from the strata's dispersion).
    *
    * Determinism: per-stratum variance from exact integer moments
    * (cents², DECIMAL(38,0)/HUGEINT headroom), truncated to integer
    * cents² BEFORE the one sqrt (IEEE-exact on the same integer on
    * both engines), weight floored to an integer, allocation by
    * truncating div over Σ weights. One map-side-combined
    * aggregation; everything after is strata-sized.
    *
    * Output: `(strataCol, n, var_cents2, weight, alloc_n)` —
    * `alloc_n` sums to ≤ budget (truncation remainder undistributed;
    * callers wanting exactness route it like
    * [[graft.operators.Funnel.linearAttribution]]'s remainder rule).
    */
  def neymanAllocation(df: DataFrame, strataCol: String,
      valCol: String, budget: Long): DataFrame = {
    val d38 = "decimal(38,0)"
    val m = df
      .filter(col(valCol).isNotNull)
      .select(col(strataCol),
        round(col(valCol) * 100).cast("bigint").as("_c"))
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n"), sum(col("_c")).as("_s"),
        sum(col("_c").cast("decimal(19,0)") *
          col("_c").cast("decimal(19,0)")).as("_q"))
      .filter(col("n") >= 2)
      .withColumn("var_cents2",
        expr(s"""(CAST(n AS $d38) * _q -
                 CAST(_s AS $d38) * CAST(_s AS $d38)) div
                 (CAST(n AS $d38) * (n - 1))""").cast("bigint"))
      .withColumn("weight",
        floor(col("n") * sqrt(col("var_cents2").cast("double")))
          .cast("bigint"))
    val tot = m.agg(sum(col("weight")).as("_wsum"))
    m.crossJoin(broadcast(tot))
      .select(col(strataCol), col("n"), col("var_cents2"),
        col("weight"),
        expr(s"($budget * weight) div _wsum").as("alloc_n"))
      .orderBy(col(strataCol))
  }

  /** CCNet-style perplexity bucketing: split each stratum (language)
    * into `nBuckets` equal-mass buckets by LM score — CCNet's
    * head/middle/tail cut that downstream mixtures sample from
    * ("keep head+middle, drop tail" or per-bucket rates). The score
    * is [[unigramLogProb]]'s exact micro mean (higher = more fluent;
    * bucket `nBuckets−1` is the head), recovered losslessly from
    * `avg_logp` (`round(·10⁶)` — the stored value IS micro/10⁶).
    *
    * The cut is the tie-coherent quantile rule shared with
    * [[graft.operators.Eval.calibrationBuckets]]: per-stratum
    * distinct-score frame, prefix counts, `bucket = (cum−1)·k div n`
    * — equal scores never straddle a boundary, and no corpus-wide
    * row sort exists (windows run over the per-stratum DISTINCT-score
    * frame; docs join back by (stratum, score)).
    *
    * Output: `(idCol, strataCol, score_micro, bucket)`, one row per
    * scored document.
    */
  def pplBuckets(docs: DataFrame, textCol: String, idCol: String,
      strataCol: String, nBuckets: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets >= 2)
    val scored = unigramLogProb(docs, textCol, idCol)
      .join(docs.select(col(idCol), col(strataCol)), Seq(idCol))
      .withColumn("score_micro",
        round(col("avg_logp") * 1000000).cast("long"))
    val g = scored.groupBy(col(strataCol), col("score_micro"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("score_micro"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = g.groupBy(col(strataCol)).agg(sum(col("cnt")).as("n_all"))
    val cut = g.withColumn("cum", sum(col("cnt")).over(w))
      .join(broadcast(tot), Seq(strataCol))
      .select(col(strataCol), col("score_micro"),
        expr(s"((cum - 1) * $nBuckets) div n_all").as("bucket"))
    scored.join(cut, Seq(strataCol, "score_micro"))
      .select(col(idCol), col(strataCol), col("score_micro"),
        col("bucket"))
  }

  /** C4-style blocklist gate: count each document's tokens that appear
    * in a term blocklist and reject documents exceeding `maxHits`.
    * Returns `(idCol, n_hits, blocked)` — counts kept as a column so
    * audits see both sides in one pass, like [[stratifiedSample]].
    *
    * Entirely map-side (an array filter against an inlined literal
    * set); for blocklists too large to inline, join the term table
    * broadcast against [[TextOps.wordRows]] instead — same verdict,
    * one aggregation.
    */
  def blocklistGate(df: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], maxHits: Int = 0): DataFrame =
    df.select(col(idCol),
        TextOps.markerHits(TextOps.words(col(textCol)), terms)
          .as("n_hits"))
      .withColumn("blocked", col("n_hits") > maxHits)

  /** Data-mixture planning: given target mixture `shares` (stratum →
    * fraction of the training budget) and a total token `budget`,
    * compute each stratum's available tokens, its token target, and
    * the sampling rate `min(1, target/available)` that realizes the
    * mixture — the audit table behind "how much of each language/source
    * do we actually take". Strata missing from `shares` get share 0.
    *
    * One tiny aggregation (per-stratum token totals, partial+final over
    * a map-side token count) joined to a broadcast config table; output
    * is strata-sized. Feed the `rate` column (×100) into
    * [[stratifiedSample]] to execute the plan.
    */
  def mixtureRates(docs: DataFrame, textCol: String, strataCol: String,
      shares: Map[String, Double], budget: Long)
      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val shareDf = shares.toSeq.toDF(strataCol, "share")
    docs
      .select(col(strataCol),
        size(TextOps.words(col(textCol))).cast("bigint").as("n"))
      .groupBy(col(strataCol))
      .agg(sum(col("n")).as("total_tokens"))
      .join(broadcast(shareDf), Seq(strataCol), "left")
      .withColumn("share", coalesce(col("share"), lit(0.0)))
      .select(col(strataCol), col("total_tokens"),
        round(col("share") * budget).cast("bigint").as("target_tokens"),
        // guard the division: an all-empty stratum (total_tokens = 0)
        // would yield Infinity (or NaN at share 0) and least() would
        // then report rate 1.0 for a stratum with nothing to sample
        round(when(col("total_tokens") > 0,
          least(lit(1.0), col("share") * budget / col("total_tokens")))
          .otherwise(lit(0.0)), 6).as("rate"))
  }

  /** Temperature-scaled mixture (the multilingual sampling rule of
    * mC4 / XLM-R: sample stratum l with probability ∝ p_l^α, α < 1
    * upweighting the tail so low-resource strata aren't drowned).
    * Complements [[mixtureRates]]: there the shares are GIVEN; here
    * they are DERIVED from the corpus with the temperature.
    *
    * α is expressed as halvings (α = 2^−halvings: 1 → √, 2 → ⁴√ …)
    * because repeated `sqrt` is the one real power that is IEEE
    * correctly-rounded and therefore bit-identical cross-engine —
    * `pow(x, 0.3)` is a libm call with no such guarantee. The scaled
    * weight is immediately floored to micro-units
    * (`w_micro = floor(10⁶·α-power(tokens))` — exact double compare,
    * engine-stable), and everything after is exact integer: shares
    * and allocations by truncating div over Σw_micro, natural shares
    * by truncating div over Σtokens. No float sum anywhere (the
    * order-dependence that would break the hash gate).
    *
    * Output per stratum: `(strata, total_tokens, natural_ppm,
    * temp_ppm, alloc_tokens)` — natural vs temperature share and the
    * token allocation of `budget` under the temperature. Strata-sized
    * everything past one map-side-combined token count.
    */
  def temperatureShares(docs: DataFrame, textCol: String,
      strataCol: String, alphaHalvings: Int = 1, budget: Long)
      : DataFrame = {
    require(alphaHalvings >= 1 && alphaHalvings <= 4,
      "alphaHalvings in [1,4] — α = 2^-h; h=0 is the natural mixture")
    val tot = docs
      .select(col(strataCol),
        size(TextOps.words(col(textCol))).cast("bigint").as("n"))
      .groupBy(col(strataCol))
      .agg(sum(col("n")).as("total_tokens"))
    val scaled = (1 to alphaHalvings).foldLeft(
      col("total_tokens").cast("double"))((c, _) => sqrt(c))
    val w = tot.withColumn("w_micro",
      floor(scaled * lit(1000000.0)).cast("bigint"))
    val totals = w.agg(sum(col("w_micro")).as("w_sum"),
      sum(col("total_tokens")).as("t_sum"))
    // products ride DECIMAL(38,0) (the q148 headroom idiom): raw
    // BIGINT would wrap silently past ~9.2×10¹² tokens per stratum —
    // inside this operator's 100 TB contract — where DuckDB errors
    // (ADVICE r10); decimal keeps both engines exact to 10³⁸.
    val d38 = "decimal(38,0)"
    w.crossJoin(broadcast(totals))
      .select(col(strataCol), col("total_tokens"),
        expr(s"(CAST(total_tokens AS $d38) * 1000000) div t_sum")
          .as("natural_ppm"),
        expr(s"(CAST(w_micro AS $d38) * 1000000) div w_sum")
          .as("temp_ppm"),
        expr(s"(CAST($budget AS $d38) * w_micro) div w_sum")
          .as("alloc_tokens"))
      .orderBy(col(strataCol))
  }

  /** RAG/context-window chunking: split each document into token chunks
    * of `chunkSize` with `overlap` tokens shared between consecutive
    * chunks (stride = chunkSize − overlap). Returns one row per chunk:
    * `(idCol, chunk_id, n_tokens, chunk_text)`; the final chunk may be
    * shorter. Documents with no tokens produce no rows.
    *
    * Starts stop at `len − overlap`: a start past that would emit a
    * chunk containing zero NEW tokens (fully covered by its
    * predecessor) — pure duplicate content in the index. Every emitted
    * chunk therefore carries at least one token no earlier chunk has.
    *
    * Map-side + explode only — chunk starts come from `sequence`, the
    * slice/join are array ops on the per-doc token array, and the
    * explode fans out ~len/stride rows per doc; `n_tokens` is the slice
    * length (no re-tokenization of the joined text). No shuffle; scales
    * with the scan like every per-doc transform here.
    */
  def chunkTokens(df: DataFrame, textCol: String, idCol: String,
      chunkSize: Int, overlap: Int = 0): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    val ws = TextOps.words(col(textCol))
    val lastStart = greatest(size(ws) - overlap, lit(1))
    val chunks = when(size(ws) > 0,
      transform(sequence(lit(1), lastStart, lit(stride)),
        start => {
          val piece = slice(ws, start, lit(chunkSize))
          struct(size(piece).cast("bigint").as("n_tokens"),
            concat_ws(" ", piece).as("chunk_text"))
        }))
      .otherwise(array().cast(
        "array<struct<n_tokens:bigint,chunk_text:string>>"))
    df.select(col(idCol), posexplode(chunks).as(Seq("chunk_id", "c")))
      .select(col(idCol), col("chunk_id").cast("bigint").as("chunk_id"),
        col("c.n_tokens").as("n_tokens"),
        col("c.chunk_text").as("chunk_text"))
  }

  /** Intra-document repeated-block scrub: split each document into
    * consecutive `blockWords`-word blocks and keep only the FIRST
    * occurrence of each distinct block, preserving order — the
    * within-document counterpart of the cross-document dedup family
    * (Lee et al. 2022 remove repeated substrings corpus-wide; C4 drops
    * repeated spans). Returns
    * `(idCol, n_blocks, n_removed, cleaned)`.
    *
    * Boundary-aligned by contract: a repeat OFFSET from the block grid
    * is not detected (exact span removal needs suffix structures —
    * [[Dedup.substringCandidates]] covers the cross-document version
    * via winnowing). What this catches is the dominant real-world
    * case: verbatim re-pasted blocks — navigation chrome, repeated
    * boilerplate paragraphs, copy-paste loops in generated text.
    *
    * Entirely map-side via the one-pass native
    * [[graft.functions.CurationStatsKernel.blockScrub]] kernel (hash
    * set of seen blocks — O(b) per doc): no shuffle, scales with the
    * scan like every per-doc transform here, and — unlike the
    * declarative `array_position` formulation kept below as the
    * cross-check oracle — has no quadratic straggler tail on
    * book-length documents (a 100k-word doc is 12.5k blocks; the
    * array-rescan test paid ~78M string comparisons inside one task,
    * the r6 verdict's flagged hardening item).
    */
  def dedupBlocks(df: DataFrame, textCol: String, idCol: String,
      blockWords: Int): DataFrame = {
    require(blockWords > 0, "blockWords must be positive")
    val st = graft.functions.CurationStats.blockScrub(
      col(textCol), blockWords)
    df.select(col(idCol),
      st.getField("n_blocks").as("n_blocks"),
      st.getField("n_removed").as("n_removed"),
      st.getField("cleaned").as("cleaned"))
  }

  /** Declarative twin of [[dedupBlocks]] — the cross-check oracle for
    * the native kernel (CurationSpec asserts equality) and the fallback
    * shape for engines without expression extensions. O(blocks²) per
    * document: the first-occurrence test `array_position(blocks, c) ==
    * i+1` rescans the block array per element, which is why the kernel
    * replaced it on the hot path.
    *
    * The block array and the kept array are materialized through NAMED
    * intermediate projections, never inlined into the filter lambda:
    * interpreted lambdas get no subexpression elimination, so the
    * inlined formulation re-derived the whole split→slice→concat block
    * array PER ELEMENT — measured 11 s steady at sf0.1 versus ~0.4 s
    * for this shape (the same interpreted-HOF pathology
    * [[graft.functions.CurationStatsKernel]] and the int8 kernel were
    * built against; here a projection boundary is enough — Catalyst's
    * CollapseProject keeps non-cheap multiply-referenced expressions
    * in their own layer).
    */
  private[graft] def dedupBlocksDeclarative(df: DataFrame,
      textCol: String, idCol: String, blockWords: Int): DataFrame = {
    require(blockWords > 0, "blockWords must be positive")
    val ws = TextOps.words(col(textCol))
    val nChunks = ceil(size(ws) / lit(blockWords.toDouble)).cast("int")
    val chunks = when(size(ws) > 0,
      transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ",
          slice(ws, i * blockWords + 1, lit(blockWords)))))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol), chunks.as("_blocks"))
      .select(col(idCol), col("_blocks"),
        filter(col("_blocks"), (c, i) =>
          array_position(col("_blocks"), c) === (i + 1).cast("long"))
          .as("_kept"))
      .select(col(idCol),
        size(col("_blocks")).cast("bigint").as("n_blocks"),
        (size(col("_blocks")) - size(col("_kept"))).cast("bigint")
          .as("n_removed"),
        concat_ws(" ", col("_kept")).as("cleaned"))
  }

  /** Bloom-filter benchmark decontamination: flag documents whose
    * n-gram shingles hit a Bloom filter built over a benchmark corpus's
    * shingles — the fixed-size-membership scale path for "is any eval
    * data in my training set" at 100 TB, complementing the exact
    * inverted-index check (q55): the exact check broadcasts the
    * benchmark's full shingle-hash set, this one caps the broadcast at
    * the filter's information content regardless of benchmark growth.
    * Returns one row per `docs` document:
    * `(idCol, n_shingles, n_flagged, contaminated)` — n_shingles =
    * distinct shingles, n_flagged = shingles whose `kHashes` probe
    * positions are ALL set, contaminated = any flagged.
    *
    * Bloom construction is deterministic and oracle-replayable: probe
    * p of shingle-hash h is `hash60(h || ':' || p) % mBits` (md5
    * family — identical in DuckDB), and the "bitmap" is the DISTINCT
    * position set as rows, bounded by min(kHashes·|bench shingles|,
    * mBits) — benchmark-sized, broadcast. False positives follow the
    * standard (1−e^(−kn/m))^k rate and are REPRODUCIBLE (a fixed hash
    * family makes the FP set deterministic, so the gate is
    * hash-stable across runs and engines — q94 pins it). Size m for
    * per-document honesty: a doc with S shingles sees ~S·fp spurious
    * flags, so target fp ≪ 1/S_max. For the packed-bitmap form of
    * bloom pruning inside joins, Spark's native runtime filter
    * already applies (see RuntimeFilterSpec).
    *
    * Scale shape: both sides shingle via the distinct-set Generator
    * ([[Dedup.hashedShingleSet]] — map-side after a rebalance); the
    * corpus stream joins the broadcast position set and reduces with
    * partial aggregation (doc, shingle) → doc. The corpus crosses the
    * wire once, carrying (id, hash) pairs ×kHashes.
    */
  def bloomDecontaminate(docs: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, n: Int, mBits: Long,
      kHashes: Int): DataFrame = {
    require(n > 0 && mBits > 0 && kHashes > 0,
      "need positive n, mBits, kHashes")
    def posOf(h: Column, k: Column): Column =
      TextOps.hash60(concat(h.cast("string"), lit(":"),
        k.cast("string"))) % mBits
    val ks = explode(sequence(lit(0), lit(kHashes - 1)))
    val bits = Dedup.hashedShingleSet(bench, idCol, textCol, n)
      .select(col("h")).distinct()
      .select(col("h"), ks.as("k"))
      .select(posOf(col("h"), col("k")).as("pos"))
      .distinct()
      .withColumn("_set", lit(1))
    val perDoc = Dedup.hashedShingleSet(docs, idCol, textCol, n)
      .select(col("doc_id"), col("h"), ks.as("k"))
      .select(col("doc_id"), col("h"),
        posOf(col("h"), col("k")).as("pos"))
      .join(broadcast(bits), Seq("pos"), "left")
      .groupBy(col("doc_id"), col("h"))
      .agg(count(col("_set")).as("_nhit"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("_nhit") === kHashes, 1)).as("n_flagged"))
      .withColumnRenamed("doc_id", "_did")
    docs.select(col(idCol))
      .join(perDoc, col(idCol) === col("_did"), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"))
      .withColumn("contaminated", col("n_flagged") > 0)
  }

  /** [[bloomDecontaminate]] with the filter as a PACKED BITMAP — the
    * production physical shape: the benchmark reduces to ⌈mBits/64⌉
    * longs (512 KB at m = 2²²) through a native OR-merging aggregate
    * with NO shuffle at all (no distinct needed — setting a bit twice
    * is idempotent), and membership is one native all-probes-set
    * expression per (doc, shingle) row instead of a k-way explode +
    * position join. Flag-for-flag identical to the position-set
    * variant (same md5 probe family — CurationSpec pins equality, and
    * q96 shares q94's oracle verbatim); same return schema.
    *
    * Scale contract: benchmark size stops mattering entirely — the
    * broadcast is mBits/8 bytes whether the benchmark holds one
    * document or a billion shingles (at saturation every probe hits;
    * size m so the load factor stays useful). The corpus side is one
    * scan + one per-doc aggregation.
    */
  def bloomDecontaminateBitmap(docs: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, n: Int, mBits: Long,
      kHashes: Int): DataFrame = {
    require(n > 0 && mBits > 0 && kHashes > 0,
      "need positive n, mBits, kHashes")
    val bitmap = Dedup.hashedShingleSet(bench, idCol, textCol, n)
      .agg(graft.functions.Bloom.bloomAgg(col("h"), mBits, kHashes)
        .as("_bm"))
    bloomProbe(docs, bitmap, textCol, idCol, n, mBits, kHashes)
  }

  /** Probe half shared by [[bloomDecontaminateBitmap]] (in-memory
    * build) and [[bloomDecontaminateWith]] (persisted filter): one
    * corpus scan, the one-row bitmap broadcast onto the shingle
    * stream, per-doc partial+final aggregation.
    */
  private def bloomProbe(docs: DataFrame, bitmap: DataFrame,
      textCol: String, idCol: String, n: Int, mBits: Long,
      kHashes: Int): DataFrame = {
    val perDoc = Dedup.hashedShingleSet(docs, idCol, textCol, n)
      .crossJoin(broadcast(bitmap))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(graft.functions.Bloom.hitsAll(col("_bm"), col("h"),
          kHashes, mBits), 1)).as("n_flagged"))
      .withColumnRenamed("doc_id", "_did")
    docs.select(col(idCol))
      .join(perDoc, col(idCol) === col("_did"), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"))
      .withColumn("contaminated", col("n_flagged") > 0)
  }

  /** Persistable Bloom-filter artifact — the build-once/probe-many
    * deployment shape (the q95 treatment applied to the decontamination
    * filter): a benchmark-ingest job builds the packed bitmap ONCE and
    * writes one parquet row `(bitmap, m_bits, k_hashes, shingle_n)`;
    * every later curation run reads mBits/8 bytes instead of
    * re-shingling the benchmark corpus. The probe parameters travel
    * INSIDE the artifact, so an index-build vs serving config drift
    * (the failure [[graft.functions.BloomKernel.hitsAll]]'s exact-size
    * guard exists for) cannot be expressed through this API — a forged
    * mismatch still fails loudly (spec-covered).
    */
  final case class BloomFilter(bitmap: DataFrame, mBits: Long,
      kHashes: Int, shingleN: Int) {
    def write(dir: String): Unit =
      Parquet.writer(bitmap.select(col("_bm").as("bitmap"),
          lit(mBits).as("m_bits"), lit(kHashes).as("k_hashes"),
          lit(shingleN).as("shingle_n"))
        .coalesce(1)).mode("overwrite").parquet(dir)
  }

  object BloomFilter {
    /** Build from a benchmark corpus: no shuffle at all (partial
      * bitmaps OR together into one ⌈mBits/64⌉-long row).
      */
    def build(bench: DataFrame, textCol: String, idCol: String,
        n: Int, mBits: Long, kHashes: Int): BloomFilter = {
      require(n > 0 && mBits > 0 && kHashes > 0,
        "need positive n, mBits, kHashes")
      val bm = Dedup.hashedShingleSet(bench, idCol, textCol, n)
        .agg(graft.functions.Bloom.bloomAgg(col("h"), mBits, kHashes)
          .as("_bm"))
      BloomFilter(bm, mBits, kHashes, n)
    }

    /** Read a persisted filter in ONE bounded `head()`: bitmap AND
      * parameters come off the same artifact row, and the bitmap is
      * re-wrapped as a LocalRelation — the probe then broadcasts it
      * without ever touching the artifact file again (previously the
      * params head() and the probe each read the parquet once —
      * VERDICT r8 finding #5).
      */
    def read(spark: org.apache.spark.sql.SparkSession,
        dir: String): BloomFilter = {
      val df = Parquet.read(spark, dir).select(col("bitmap").as("_bm"),
        col("m_bits"), col("k_hashes"), col("shingle_n"))
      val row = df.head()
      val bm = spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(row.get(0))),
        org.apache.spark.sql.types.StructType(Seq(df.schema.head)))
      BloomFilter(bm, row.getLong(1), row.getInt(2), row.getInt(3))
    }
  }

  /** [[bloomDecontaminateBitmap]] probing a pre-built (typically
    * persisted) [[BloomFilter]] — the serving half: the benchmark
    * corpus is never touched, the filter row is all that's read.
    * Flag-for-flag identical to the in-memory build by construction
    * (q102 shares q94/q96's oracle verbatim).
    */
  def bloomDecontaminateWith(docs: DataFrame, filter: BloomFilter,
      textCol: String, idCol: String): DataFrame =
    bloomProbe(docs, filter.bitmap, textCol, idCol, filter.shingleN,
      filter.mBits, filter.kHashes)

  /** Off-grid repeated-span statistics: count sliding `spanWords`-word
    * windows (stride 1 — EVERY word offset) whose exact span already
    * occurred earlier in the same document. Returns
    * `(idCol, n_spans, n_repeated, repeat_frac)`; repeat_frac is null
    * for documents with no spans (< spanWords tokens).
    *
    * Completes [[dedupBlocks]]'s documented blind spot: that operator
    * is grid-aligned by contract (a repeat OFFSET from the block grid
    * is invisible), while this detector sees a verbatim re-paste at
    * any offset — the within-document counterpart of
    * [[Dedup.substringCandidates]]'s winnowing (Lee et al. 2022
    * repeated-substring signal at word granularity). Detection only:
    * span removal is ill-posed under overlap (every word sits in up to
    * `spanWords` spans); pipelines gate on `repeat_frac` and route
    * flagged docs to [[dedupBlocks]] or exact scrubbing.
    *
    * Entirely map-side via the one-pass native
    * [[graft.functions.CurationStatsKernel.spanRepeats]] kernel
    * (seen-set, linear in tokens): no shuffle, scales with the scan
    * like every per-doc transform here.
    */
  def spanRepeatStats(df: DataFrame, textCol: String, idCol: String,
      spanWords: Int): DataFrame = {
    require(spanWords > 0, "spanWords must be positive")
    val st = graft.functions.CurationStats.spanRepeats(
      col(textCol), spanWords)
    df.select(col(idCol),
        element_at(st, 1).as("n_spans"),
        element_at(st, 2).as("n_repeated"))
      .withColumn("repeat_frac",
        when(col("n_spans") > 0,
          round(col("n_repeated").cast("double") / col("n_spans"), 6)))
  }

  /** Default PII patterns — deliberately restricted to the regex
    * dialect subset Java and RE2 share (no backreferences, no
    * lookaround), so oracles/other engines replay them verbatim.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}", "[IP]"),
    ("\\d{3}-\\d{3}-\\d{4}", "[PHONE]"))

  /** PII scrubbing: count pattern matches against the ORIGINAL text
    * (per pattern, independently) and replace them in label order.
    * Returns `(idCol, n_pii, scrubbed)`. Map-side only — regex scalar
    * functions on the scan, no UDF.
    *
    * Patterns apply in sequence, so earlier labels win overlaps (the
    * default order scrubs emails first, so `555-123-4567@x.org`
    * becomes one [EMAIL] rather than an email husk around a [PHONE];
    * note the email pattern requires an alphabetic TLD, so `a@1.2.3.4`
    * is correctly an [IP] match, not an email).
    */
  def piiScrub(df: DataFrame, textCol: String, idCol: String,
      patterns: Seq[(String, String)] = piiPatterns): DataFrame = {
    require(patterns.nonEmpty, "piiScrub needs at least one pattern")
    val counts = patterns.map { case (p, _) =>
      size(regexp_extract_all(col(textCol), lit(p), lit(0))).cast("bigint")
    }.reduce(_ + _)
    val scrubbed = patterns.foldLeft(col(textCol)) {
      case (c, (p, label)) =>
        // quote the label: Java replacement strings treat $ and \ as
        // group references ('[US$]' would throw Illegal group
        // reference, and RE2 engines would read it differently)
        regexp_replace(c, p,
          java.util.regex.Matcher.quoteReplacement(label))
    }
    df.select(col(idCol), counts.as("n_pii"), scrubbed.as("scrubbed"))
  }

  /** Compression-ratio quality signal: DEFLATE-compressed size over raw
    * UTF-8 size per document — the Gopher-family filter that catches
    * BOTH failure modes the token metrics miss at their extremes
    * (ratio ≪ typical: machine-generated repetition; ratio ≈ 1:
    * high-entropy gibberish/binary-in-text). Returns
    * `(idCol, n_bytes, n_deflate, ratio)` with ratio rounded to 4
    * decimals; empty text ⇒ ratio null.
    *
    * Map-side only, native kernel (no UDF). No SQL oracle by design —
    * DuckDB cannot replay java.util.zip — so the catalog entry is
    * rows-only and the semantics are spec-gated (determinism,
    * repetition monotonicity, bounds).
    */
  def compressionStats(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val raw = octet_length(col(textCol)).cast("bigint")
    df.select(col(idCol), raw.as("n_bytes"),
        graft.functions.CurationStats.deflateSize(col(textCol))
          .as("n_deflate"))
      .withColumn("ratio",
        when(col("n_bytes") > 0,
          round(col("n_deflate").cast("double") / col("n_bytes"), 4)))
  }

  /** Training sequence packing: assign documents, in deterministic
    * `idCol` order WITHIN each stratum, to consecutive context-window
    * bins of `window` tokens — each doc lands in the bin its running
    * token offset starts in (the greedy concat-and-split packing used
    * to build pretraining batches). Returns the input plus
    * `n_tokens` and `bin` (columns retained so composed pipelines need
    * no re-join against their own upstream — see
    * `CorpusCuration.curateForTraining`).
    *
    * The running offset is a DISTRIBUTED two-pass prefix sum, not a
    * per-stratum window: a window partitioned by stratum puts an entire
    * stratum in one task, so a 5-language corpus would pack with
    * parallelism 5 no matter how many terabytes each language holds.
    * Instead each stratum is cut into `blocks` id-contiguous blocks
    * (boundaries = per-stratum approximate id quantiles, collected once
    * — a strata-sized driver map, same class as the accepted rate-map
    * collects), per-block token subtotals reduce to a tiny offsets
    * table that broadcasts back, and the cumsum runs block-locally —
    * parallelism is strata × blocks. The bin output is invariant to
    * where the block boundaries land (offset + local prefix ≡ global
    * prefix for ANY id-contiguous blocking), so results are hash-stable
    * across runs even though quantiles are approximate.
    *
    * Cost: one extra (column-pruned: stratum + id only) scan for the
    * boundary quantiles, and the tokenization is evaluated twice
    * (subtotal pass + output pass) — two linear scans, deliberately not
    * persisted here for the same release-point reason as
    * [[dfPruneCounts]].
    *
    * Block boundaries need a NUMERIC-TYPED id (the double cast is
    * order-preserving for numeric types); a string id column degrades
    * to one block per stratum (the old serial behavior) — still
    * correct, documented, never wrong (q92 pins this fallback under
    * the driver's oracle). The gate is the column TYPE, not value
    * parseability: numeric-text strings sort lexicographically in the
    * pack order but numerically in the quantile blocks, which would
    * break the block-monotonicity the prefix sum needs — so they
    * degrade too. Above `maxStrata` distinct
    * strata, blocking is skipped the same way — that many strata
    * already parallelize — and the boundary collect stays LIMIT-bounded
    * (see [[withPackBlocks]]); CurationSpec pins result equality across
    * both fallbacks.
    *
    * `startOffsets` makes packing INCREMENTAL — the nightly-refresh
    * shape: a `(strataCol, start_tokens)` frame (strata-sized,
    * broadcast, null-safe like the offsets join; duplicate stratum
    * rows SUM, so several per-shard summary frames can be passed
    * unioned) pre-loads each
    * stratum's running token count, so a new shard's bins CONTINUE the
    * previous run's numbering instead of restarting at 0. When the new
    * shard's ids sort after the old corpus's, append-pack ≡ packing
    * the union and keeping the new rows (CurationSpec pins it; q98
    * hash-gates it).
    */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
      strataCol: String, window: Long, blocks: Int = 0,
      maxStrata: Int = 10000,
      startOffsets: Option[DataFrame] = None,
      tokenCountCol: Option[String] = None): DataFrame = {
    require(window > 0, "window must be positive")
    // tokenCountCol: budget bins by a caller-supplied per-row token
    // count (e.g. trained-BPE counts from [[Bpe.docTokenCounts]] —
    // the count that actually fills a model's context window) instead
    // of the whitespace default. Same packing arithmetic either way.
    val nTok = tokenCountCol match {
      case Some(c) => col(c).cast("bigint")
      case None => size(TextOps.words(col(textCol))).cast("bigint")
    }
    val wb0 = withPackBlocks(
      df.withColumn("n_tokens", nTok),
      idCol, strataCol, blocks, maxStrata)
    val wb = startOffsets match {
      case Some(so) =>
        // aggregate defensively: duplicate stratum rows (e.g. several
        // per-shard summary frames unioned) SUM — the additive reading
        // of carried token counts — instead of duplicating every
        // matching document through the join and corrupting the bins
        val s2 = so.groupBy(col(strataCol).as("_ss"))
          .agg(sum(col("start_tokens").cast("bigint")).as("_start"))
        wb0.join(broadcast(s2), col(strataCol) <=> col("_ss"), "left")
          .withColumn("_base", coalesce(col("_start"), lit(0L)))
          .drop("_ss", "_start")
      case None => wb0.withColumn("_base", lit(0L))
    }
    val uP = org.apache.spark.sql.expressions.Window.unboundedPreceding
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col("_blk"))
      .rowsBetween(uP, -1)
    // tiny: strata × blocks rows; the offsets window sorts block counts,
    // not documents
    val offsets = wb
      .groupBy(col(strataCol), col("_blk"))
      .agg(sum(col("n_tokens")).as("_blk_tokens"))
      .withColumn("_offset",
        coalesce(sum(col("_blk_tokens")).over(wOff), lit(0L)))
      .select(col(strataCol).as("_os"), col("_blk").as("_ob"),
        col("_offset"))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol), col("_blk")).orderBy(col(idCol))
      .rowsBetween(uP, -1)
    // null-safe on the stratum: a null-strata group must keep its rows
    // (the window formulation kept them; an equi-join would drop them)
    wb.join(broadcast(offsets),
        col(strataCol) <=> col("_os") && col("_blk") === col("_ob"))
      .withColumn("bin", floor(
        (col("_base") + col("_offset") +
          coalesce(sum(col("n_tokens")).over(wLocal), lit(0L))) / window)
        .cast("bigint"))
      .select(df.columns.map(col).toIndexedSeq :+
        col("n_tokens") :+ col("bin"): _*)
  }

  /** Adds the `_blk` column [[packSequences]] partitions its prefix sum
    * by: block b = number of this stratum's collected quantile
    * boundaries strictly below the row's id. Monotone non-decreasing in
    * id within a stratum (double cast is order-preserving), so
    * block-local prefixes compose into the global per-stratum prefix.
    * Package-private so the spec can assert a single-stratum corpus
    * really fans out over >1 block.
    *
    * Driver-safety bound: the boundary collect is one row per stratum,
    * so a high-cardinality stratum column (a mis-use, but a cheap one
    * to survive) would pressure the driver for no benefit — above
    * `maxStrata` strata the operator skips blocking entirely, because
    * that many strata ALREADY parallelize the per-stratum windows; the
    * collect is LIMIT-bounded so the overflow case never materializes
    * driver-side.
    */
  private[graft] def withPackBlocks(df: DataFrame, idCol: String,
      strataCol: String, blocks: Int,
      maxStrata: Int = 10000): DataFrame = {
    val spark = df.sparkSession
    val nBlocks =
      if (blocks > 0) blocks
      else math.max(spark.sparkContext.defaultParallelism, 1)
    // blocking requires an id whose NUMERIC order is the pack order —
    // i.e. a numeric-TYPED column. A string column degrades to one
    // block per stratum even when its values happen to parse as
    // numbers: casting "10" < "9" to 10.0 > 9.0 would assign quantile
    // blocks by numeric order while the block-local window sorts
    // lexicographically, breaking the _blk-monotone-in-id invariant
    // the prefix-sum composition rests on (bins would silently differ
    // from the serial path for unpadded numeric-text ids). Type check,
    // not try_cast: the fallback must not depend on what the values
    // parse as.
    if (!df.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType])
      return df.withColumn("_blk", lit(0))
    val idn = col(idCol).cast("double")
    if (nBlocks <= 1) return df.withColumn("_blk", lit(0))
    val probs = (1 until nBlocks).map(_.toDouble / nBlocks)
    // collected ONCE so the subtotal pass and the output pass see the
    // exact same boundaries (percentile merge order is not guaranteed
    // reproducible across plan branches); strata-sized, not data-sized
    val agg = df.groupBy(col(strataCol))
      .agg(percentile_approx(idn, array(probs.map(lit): _*), lit(10000))
        .as("_bnds"))
    val rows = agg.limit(maxStrata + 1).collect()
    if (rows.length > maxStrata) return df.withColumn("_blk", lit(0))
    val boundsDf = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), agg.schema))
    df.join(boundsDf, Seq(strataCol), "left")
      .withColumn("_blk", coalesce(
        aggregate(col("_bnds"), lit(0),
          (a, b) => a + when(idn > b, 1).otherwise(0)),
        lit(0)))
      .drop("_bnds")
  }

  /** Snapshot diff of two corpus versions — the nightly-refresh audit
    * ("what changed since yesterday's crawl?") that gates incremental
    * reprocessing: only `added`/`changed` docs need re-curation, and
    * `removed` ids feed downstream retraction. Comparison is by
    * normalized-text fingerprint (the q33 md5 — 16 bytes cross the
    * wire per doc instead of the text, and the full-outer join
    * shuffles id+fingerprint only). Statuses: `added` (new only),
    * `removed` (old only), `changed` (both, fingerprints differ),
    * `unchanged`.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    def fp(df: DataFrame, n: String) = df.select(col(idCol).as("_id"),
      md5(concat_ws(" ", TextOps.words(col(textCol)))).as(n))
    fp(oldDocs, "fp_old")
      .join(fp(newDocs, "fp_new"), Seq("_id"), "full_outer")
      .select(col("_id").as(idCol),
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") === col("fp_new"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Per-status counts of [[corpusDiff]]. */
  def corpusDiffSummary(oldDocs: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String): DataFrame =
    corpusDiff(oldDocs, newDocs, idCol, textCol)
      .groupBy(col("status")).agg(count(lit(1)).as("n_docs"))

  /** Gopher quality rules (Rae et al. 2021, table A1 — the public
    * rule set most large text pipelines start from): per-document
    * exact counting metrics and the five rule flags, plus the overall
    * keep verdict. Every threshold compare is CROSS-MULTIPLIED exact
    * integer (mean word length ∈ [3, 10] becomes 3n ≤ chars ≤ 10n;
    * ratios become product compares) — no float boundary, so the
    * verdicts hash identically cross-engine.
    *
    * Rules (document-level):
    *  - word count ∈ [minWords, maxWords] (paper: 50..100k);
    *  - mean word length ∈ [3, 10] characters;
    *  - symbol-to-word ratio ≤ 0.1 ('#' or '…'/'...' — boilerplate
    *    markup smell);
    *  - ≥ 80% of words contain at least one alphabetic character;
    *  - ≥ 2 stopword hits (the `stopwords` list).
    *
    * Map-side only — per-doc counting over the words array; at 100 TB
    * the cost is the scan (the q31/q67 contract).
    */
  def gopherQualityFlags(df: DataFrame, textCol: String, idCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      stopwords: Seq[String] =
        Seq("the", "of", "and", "a", "to", "in", "is")): DataFrame = {
    val ws = TextOps.words(col(textCol))
    df.select(col(idCol),
        size(ws).cast("bigint").as("n_words"),
        aggregate(transform(ws, w => length(w)), lit(0),
          (acc, x) => acc + x).cast("bigint").as("n_word_chars"),
        (length(col(textCol)) - length(regexp_replace(col(textCol),
          "#|\\.\\.\\.|…", ""))).cast("bigint").as("n_symbol_chars"),
        size(filter(ws, w => w.rlike("[a-zA-Z]"))).cast("bigint")
          .as("n_alpha_words"),
        TextOps.markerHits(ws, stopwords).cast("bigint")
          .as("n_stopword_hits"))
      .withColumn("f_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("f_mean_word_len",
        col("n_word_chars") >= col("n_words") * 3 &&
          col("n_word_chars") <= col("n_words") * 10)
      // n_symbol_chars counts CHARACTERS of the matched symbols; the
      // '…'/'#' forms are 1 char and '...' is 3, so the conservative
      // exact compare treats every 1 symbol char as 1 symbol
      .withColumn("f_symbol_ratio",
        col("n_symbol_chars") * 10 <= col("n_words"))
      .withColumn("f_alpha_words",
        col("n_alpha_words") * 10 >= col("n_words") * 8)
      .withColumn("f_stopwords", col("n_stopword_hits") >= 2)
      .withColumn("keep",
        col("f_word_count") && col("f_mean_word_len") &&
          col("f_symbol_ratio") && col("f_alpha_words") &&
          col("f_stopwords"))
  }

  /** C4 cleaning rules (Raffel et al. 2020 §2.2 — the other canonical
    * public filter set), document-level: terminal-punctuation ending,
    * ≥ `minSentences` sentence terminators, ≥ `minWords` words, no
    * curly brace (code smell), no "lorem ipsum". Sentence counting is
    * the engine-identical character count of [.!?] occurrences (a
    * regexp_replace length difference — no tokenizer to disagree on);
    * all other rules are exact string predicates. Map-side only.
    */
  def c4QualityFlags(df: DataFrame, textCol: String, idCol: String,
      minSentences: Int = 3, minWords: Int = 5): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
        size(TextOps.words(t)).cast("bigint").as("n_words"),
        length(regexp_replace(t, "[^.!?]", "")).cast("bigint")
          .as("n_sentence_ends"),
        rtrim(t).rlike("[.!?\"']$").as("f_ends_punct"),
        (!t.contains("{")).as("f_no_brace"),
        (!lower(t).contains("lorem ipsum")).as("f_no_lorem"))
      .withColumn("f_sentences", col("n_sentence_ends") >= minSentences)
      .withColumn("f_words", col("n_words") >= minWords)
      .withColumn("keep",
        col("f_ends_punct") && col("f_no_brace") && col("f_no_lorem") &&
          col("f_sentences") && col("f_words"))
  }

  /** Largest-remainder (Hamilton) apportionment of an integer budget
    * across weighted groups — the "sample exactly B tokens across
    * domains" planning step of a data-mixing run: each group gets
    * `floor(B·w/W)` plus one of the `B·w mod W` leftover units, awarded
    * to the largest remainders (ties to the first group in `ORDER BY
    * groupCols`). Exact integers end to end; Σ alloc = B exactly —
    * the property proportional-rounding by `round()` does NOT have,
    * and the reason this operator exists.
    *
    * Input: one row per group with an integer weight column. Shape:
    * one map-side-combined aggregation to W (one-row broadcast), one
    * ranking window over the GROUP frame — value-cardinality-bounded
    * (domains, languages: thousands at 100 TB, never rows).
    */
  def largestRemainderAllocation(groups: DataFrame,
      groupCols: Seq[String], weightCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val gc = groupCols.map(col)
    val tot = groups.agg(
      sum(col(weightCol).cast("decimal(38,0)")).as("_w_total"))
    val based = groups
      .select(gc :+ col(weightCol).cast("decimal(38,0)")
        .as("_w"): _*)
      .crossJoin(broadcast(tot))
      .select(gc ++ Seq(
        col("_w").cast("bigint").as(weightCol),
        // all-zero weights: every base/remainder is 0 and the first
        // min(budget, nGroups) groups in group order get one unit —
        // stated degenerate rule, not an ANSI divide-by-zero error
        when(col("_w_total") > 0,
          expr(s"(_w * $budget) div _w_total")).otherwise(lit(0L))
          .cast("bigint").as("_base"),
        when(col("_w_total") > 0, expr(s"(_w * $budget) % _w_total"))
          .otherwise(lit(0)).cast("decimal(38,0)").as("_rem")): _*)
    val wRank = Window.orderBy(
      col("_rem").desc +: gc.map(_.asc): _*)
    val leftover = based
      .crossJoin(broadcast(based.agg(
        sum(col("_base")).as("_base_total"))))
      .withColumn("_rk", row_number().over(wRank))
      .withColumn("alloc",
        col("_base") + when(
          col("_rk") <= lit(budget) - col("_base_total"), 1L)
          .otherwise(0L))
    leftover.select(gc ++ Seq(col(weightCol),
      col("alloc").cast("bigint").as("alloc")): _*)
  }
}
