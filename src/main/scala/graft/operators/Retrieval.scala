package graft.operators

import graft.sink.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text retrieval scoring — Okapi BM25 top-k over a document
  * corpus (Robertson & Zaragoza 2009, "The Probabilistic Relevance
  * Framework: BM25 and Beyond"; idf in the always-positive Lucene form
  * `ln(1 + (N - df + 0.5)/(df + 0.5))`).
  *
  * North-star territory for a training-data pipeline: relevance
  * retrieval is how targeted subsets get pulled out of a 100 TB corpus
  * (topic mining, eval-set mining, "find documents about X" curation),
  * and it composes with the rest of the curation ladder (dedup the
  * retrieved set, gate it on quality, pack it).
  *
  * Scale design — one corpus pass, query-sized everything else:
  *
  *  1. ONE tokenize + explode pass builds the per-(doc, term) `tf`
  *     frame, materialized (`localCheckpoint`) exactly like
  *     [[Curation.bigramLogProb]]'s bigram `tf` — `dl` (per-doc
  *     length), the corpus stats (N, avgdl), and the scored subset all
  *     derive from it, so the corpus is never scanned twice.
  *  2. The query-term set is DRIVER-SIZED (queries are human-written
  *     strings) and broadcast: the scoring join filters `tf` down to
  *     rows whose term occurs in some query BEFORE anything shuffles,
  *     so document frequency, the dl join, and the final aggregation
  *     all run over the matched subset, not the token stream. At
  *     100 TB with a 5-term query the post-filter frame is ~the
  *     posting lists of 5 terms — the inverted-index access pattern,
  *     without materializing an index.
  *  3. Per-query top-k is a `row_number` window partitioned by
  *     query_id — one shuffle whose key count = number of queries;
  *     candidates per query are bounded by the matched-doc count.
  *
  * Numeric determinism (the SparkEntry hash-stability policy): each
  * per-term contribution is rounded to 6 decimals and cast to
  * `DECIMAL(20,6)` BEFORE the per-document sum, so the aggregation is
  * exact and associative — bit-identical across engines and
  * partitionings. `avgdl` is a single double division of two exact
  * integer sums, identical in both engines.
  *
  * BM25 variant notes (documented degrees of freedom): query-term
  * frequency is not weighted (each distinct query term counts once —
  * the common Lucene practice for short queries), and N/avgdl are
  * computed over documents with ≥ 1 token (empty documents can never
  * match and carry no length signal).
  */
object Retrieval {

  /** Top-k BM25 hits per query. Output columns:
    * `(query_id, doc_id, score, rank)`, ordered by (query_id, rank).
    *
    * @param docs    corpus frame
    * @param idCol   document id column (bigint)
    * @param textCol text column
    * @param queries (query_id, query text) — driver-sized
    * @param k       hits per query
    * @param k1      BM25 term-frequency saturation (default 1.2)
    * @param b       BM25 length normalization (default 0.75)
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Int, String)], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      tf: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    // distinct query terms, tokenized driver-side with words() semantics
    val qterms = queries.flatMap { case (qid, text) =>
      text.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
        .map(w => (qid.toLong, w))
    }
    val qt = spark.createDataFrame(qterms).toDF("query_id", "word")
    rankTopK(bm25Score(docs, idCol, textCol, qt, k1, b, tf), k,
      excludeSelf = false)
  }

  /** The one corpus-pass posting frame `(doc_id, word, tf)` all BM25
    * paths derive from — exposed (materialized) so callers sharing a
    * corpus charge the tokenize→tf build ONCE and pass it to
    * [[bm25TopK]]/[[bm25TopKFrame]]/[[rrfHybrid]] (the q105/q129
    * artifact-registration discipline: q115 is the build row, q144's
    * sparse arm reuses it).
    */
  def termFrequencies(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // The checkpointed artifact is NARROW (AQE sizes the aggregation
    // output by bytes — a corpus tf is a few MB ⇒ 1-2 partitions):
    // most consumers scan it repeatedly (the pruned path's 4 passes,
    // the index builds' df/dl aggregations, micro-batch increments),
    // and a cluster-wide repartition baked into the checkpoint taxed
    // every one of those passes with 32-block scans (measured, round
    // 19: q301 +1.4 s, q321 +1.0 s, q302 +0.5 s, q115/q144 +0.8 s).
    // The consumers that EXPAND the frame (per-posting contrib ×
    // query fan-out) widen their own matched subset AFTER the
    // query-term filter instead — [[wideN]] in [[bm25Contribs]] /
    // the q274 truth build — so the expensive stage still runs
    // cluster-wide without freezing that width into the artifact
    // (guide §2.5 "choose partitioning per consumer"; optimization
    // round 20).
    TextOps.wordRows(
        docs.select(col(idCol).as("doc_id"), col(textCol)), textCol,
        keep = Seq("doc_id"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
  }

  /** Cluster-wide parallelism floor for stages that EXPAND a small
    * frame (posting × query fan-outs): AQE sizes shuffle output by
    * BYTES and cannot see a downstream fan-out, so the expanding
    * consumer pins width explicitly — from the deployment's own scale
    * knobs, no constant baked in (guide §2.5). */
  private[graft] def wideN(spark: SparkSession): Int = math.max(
    spark.sparkContext.defaultParallelism,
    spark.sessionState.conf.numShufflePartitions)

  /** BM25 with a DataFrame query set `(query_id, qtext)` — the
    * dynamic twin of [[bm25TopK]] for doc-as-query retrieval (hybrid
    * search, more-like-this). `excludeSelf` drops the query document
    * from its own result list BEFORE ranking.
    */
  def bm25TopKFrame(docs: DataFrame, idCol: String, textCol: String,
      queriesDf: DataFrame, k: Int, k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false,
      tf: Option[DataFrame] = None): DataFrame = {
    rankTopK(bm25ScoresFrame(docs, idCol, textCol, queriesDf, k1, b,
      tf), k, excludeSelf)
  }

  /** The SCORED half of [[bm25TopKFrame]] — every matched
    * `(query_id, doc_id, score)` before any ranking. Exposed so
    * consumers ranking the SAME query batch differently (with/without
    * self-exclusion, different k, metrics vs mining) can share ONE
    * scoring pass as a registered artifact (per-pair scores are
    * independent, so post-scoring filters commute with scoring —
    * q274/q314 share exactly this frame).
    */
  def bm25ScoresFrame(docs: DataFrame, idCol: String, textCol: String,
      queriesDf: DataFrame, k1: Double = 1.2, b: Double = 0.75,
      tf: Option[DataFrame] = None,
      wide: Boolean = false): DataFrame = {
    val qt = queriesDf
      .select(col("query_id"),
        explode(TextOps.words(col("qtext"))).as("word"))
      .distinct()
    bm25Score(docs, idCol, textCol, qt, k1, b, tf, wide)
  }

  /** The RANKING half: top-k from a prebuilt scores frame, same tie
    * discipline as every other BM25 path. */
  def topKFromScores(scored: DataFrame, k: Int,
      excludeSelf: Boolean = false): DataFrame =
    rankTopK(scored, k, excludeSelf)

  /** Per-posting BM25 contributions `(query_id, word, doc_id,
    * contrib DECIMAL(20,6))` — the shared frame under BOTH the
    * exhaustive sum and the max-score pruned path (the per-term
    * upper bounds are maxima of exactly these rounded contribs, so
    * the pruning math lives in the same exact-decimal domain as the
    * scores it bounds).
    */
  private[graft] def bm25Contribs(docs: DataFrame, idCol: String,
      textCol: String, qt: DataFrame, k1: Double, b: Double,
      prebuiltTf: Option[DataFrame],
      wide: Boolean = false): DataFrame = {
    // one corpus pass: (doc_id, word, tf) — built here or taken from
    // the caller's shared artifact (charged to its own build row)
    val tf = prebuiltTf.getOrElse(
      termFrequencies(docs.select(col(idCol), col(textCol)),
        idCol, textCol))

    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    // N + avgdl as a one-row broadcast (no driver collect)
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))

    // posting lists of the query terms only. The per-(query, term)
    // document frequency over the matched subset is BY CONSTRUCTION
    // the term's full-posting df (every query's match set for a word
    // is the word's whole posting list), so df and the rounded
    // contribution are computed ONCE per (word, doc) posting and only
    // then expanded to query ids — the log/round expression and the
    // df aggregation run |postings of query words| times instead of
    // |queries × postings| times (guide §2.3 "aggregate before you
    // shuffle" / §8 "decide on the proxy, expand last"; values are
    // bit-identical — optimization round 19, q274 12.0 s → measured
    // after). qt stays the join's small side, broadcast after the
    // contribs exist. `wide` spreads the MATCHED subset cluster-wide
    // before the expansion — for large query batches (q274's 25
    // doc-queries × whole-corpus posting lists) whose contrib stage
    // would otherwise inherit the narrow artifact's 1-2 partitions;
    // small query batches keep the narrow shape (the repartition
    // costs more than it buys — round 19's measured trade, now per
    // consumer instead of frozen into the shared artifact).
    val qw = qt.select(col("word")).distinct()
    val tfq0 = tf.join(broadcast(qw), "word")
    val tfq = if (wide) tfq0.repartition(wideN(docs.sparkSession))
    else tfq0
    val dfreq = tfq.groupBy(col("word")).agg(count(lit(1)).as("df"))

    tfq
      .join(broadcast(dfreq), Seq("word"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("word"), col("doc_id"),
        round(
          log(lit(1.0) + (col("n_docs").cast("double") - col("df") + lit(0.5))
            / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))),
          6).cast("decimal(20,6)").as("contrib"))
      .join(broadcast(qt), "word")
      .select(col("query_id"), col("word"), col("doc_id"),
        col("contrib"))
  }

  /** Shared scoring core: broadcastable distinct query-term frame
    * `(query_id, word)` → scored `(query_id, doc_id, score)`.
    */
  private def bm25Score(docs: DataFrame, idCol: String, textCol: String,
      qt: DataFrame, k1: Double, b: Double,
      prebuiltTf: Option[DataFrame],
      wide: Boolean = false): DataFrame =
    bm25Contribs(docs, idCol, textCol, qt, k1, b, prebuiltTf, wide)
      .groupBy(col("query_id"), col("doc_id"))
      // exact decimal sum, presented as DOUBLE (the dsum convention)
      .agg(sum(col("contrib")).cast("double").as("score"))

  /** BM25 posting INDEX `(word, doc_id, contrib)` — every per-posting
    * contribution precomputed corpus-wide. df/dl/avgdl are corpus
    * statistics, so the contribution of term t in doc d is
    * QUERY-INDEPENDENT at fixed (k1, b): one build (one corpus pass +
    * one corpus-wide df aggregation) serves every future query set —
    * the impact-ordered-index half of the WAND deployment (Ding &
    * Suel 2011 store exactly these precomputed impacts, plus the
    * per-term maxima [[bm25TopKPruned]] derives). Materialize it like
    * the q115 tf artifact (localCheckpoint in-session, parquet across
    * jobs); feed it to [[bm25TopKIndexed]]/[[bm25TopKPrunedIndexed]].
    *
    * Values are bit-identical to the ad-hoc [[bm25Contribs]] path
    * (same rounded expression, df over the same corpus), so indexed
    * and ad-hoc rankings match exactly — spec-pinned.
    */
  def bm25Index(docs: DataFrame, idCol: String, textCol: String,
      k1: Double = 1.2, b: Double = 0.75,
      tf: Option[DataFrame] = None): DataFrame = {
    val tfF = tf.getOrElse(
      termFrequencies(docs.select(col(idCol), col(textCol)),
        idCol, textCol))
    val dl = tfF.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val dfreq = tfF.groupBy(col("word")).agg(count(lit(1)).as("df"))
    tfF
      .join(dfreq, Seq("word"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("word"), col("doc_id"),
        round(
          log(lit(1.0) + (col("n_docs").cast("double") - col("df") + lit(0.5))
            / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))),
          6).cast("decimal(20,6)").as("contrib"))
  }

  /** Exhaustive top-k from a prebuilt [[bm25Index]] — posting-list
    * join, (query, doc) sum, rank. The fair exhaustive baseline when
    * the index artifact exists (PLANS.md rounds 12–13 A/B this against
    * the pruned twin on the SAME index).
    */
  def bm25TopKIndexed(index: DataFrame, queries: Seq[(Int, String)],
      k: Int): DataFrame = {
    val qt = queryTerms(index.sparkSession, queries)
    rankTopK(
      index.join(broadcast(qt), "word")
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("contrib")).cast("double").as("score")),
      k, excludeSelf = false)
  }

  /** Max-score-pruned top-k from a prebuilt [[bm25Index]] — see
    * [[bm25TopKPruned]] for the algorithm; here the contribs come
    * from the index join, so the prune pays NO per-query contrib
    * computation and the saved work (the non-essential terms'
    * (query, doc) aggregation + ranking input) is the whole story.
    */
  def bm25TopKPrunedIndexed(index: DataFrame,
      queries: Seq[(Int, String)], k: Int): DataFrame = {
    val qt = queryTerms(index.sparkSession, queries)
    prunedTopK(index.join(broadcast(qt), "word"), k)
  }

  private def queryTerms(spark: SparkSession,
      queries: Seq[(Int, String)]): DataFrame = {
    val qterms = queries.flatMap { case (qid, text) =>
      text.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
        .map(w => (qid.toLong, w))
    }
    spark.createDataFrame(qterms).toDF("query_id", "word")
  }

  /** Persist a [[bm25Index]] as an on-disk inverted index:
    * `path/postings` parquet PARTITIONED by `wbucket =
    * pmod(xxhash64(word), wordBuckets)` — a query then reads ONLY its
    * terms' partitions (directory-level pruning: the Spark analogue
    * of posting-list seeks) — plus `path/ub`, the per-word maximum
    * contribution metadata WAND keeps next to each posting list
    * (word, ub, wbucket; vocabulary-sized). Size `wordBuckets` so a
    * bucket holds a few posting lists: at 100 TB with a 10⁷-term
    * vocabulary, 2¹⁴ buckets make a 5-term query read ~5/16384 of the
    * index.
    */
  def writeBm25Index(index: DataFrame, path: String,
      wordBuckets: Int = 512): Unit = {
    require(wordBuckets >= 1)
    // materialize the index expression ONCE: both outputs (postings
    // tree + ub metadata) consume the same contrib frame, and the
    // frame is the expensive part (tf joins + per-posting log) — the
    // previous shape re-derived it per write (two ~5 s evaluations in
    // q321; optimization round 19). Repartition ON the bucket column
    // before the partitioned write — one file per bucket instead of
    // (#tasks × #buckets) tiny files (the IndexLayout.writeFacts
    // discipline, guide §6 "small files hurt twice").
    val withB = index.withColumn("wbucket",
        pmod(xxhash64(col("word")), lit(wordBuckets.toLong)))
      .localCheckpoint()
    Parquet.writer(withB.repartition(col("wbucket")))
      .mode("overwrite").partitionBy("wbucket")
      .parquet(s"$path/postings")
    Parquet.writer(withB.groupBy(col("word"), col("wbucket"))
        .agg(max(col("contrib")).as("ub"))
        .withColumn("n_buckets", lit(wordBuckets))
        .coalesce(1))
      .mode("overwrite").parquet(s"$path/ub")
  }

  /** The partition-pruned posting read under both FromIndex query
    * paths: the query words' bucket ids come from the (tiny) ub
    * metadata table, so the postings scan carries literal
    * `wbucket IN (...)` partition filters plus a pushed `word IN`
    * row filter — only the query terms' directories are opened.
    * Returns (contribs joined to query ids, per-(query, word) ub
    * frame).
    */
  private def indexPostingsFor(spark: SparkSession, path: String,
      queries: Seq[(Int, String)]): (DataFrame, DataFrame) = {
    val qt = queryTerms(spark, queries)
    val words = queries.flatMap(_._2.toLowerCase.split("\\s+"))
      .filter(_.nonEmpty).distinct
    // vocabulary-sized metadata: per-word ub AND the word→bucket
    // mapping; the bucket ids collect driver-side (query-batch-
    // bounded) to become LITERAL partition filters on the postings
    val ubTable = Parquet.read(spark, s"$path/ub")
      .filter(col("word").isin(words: _*))
    val buckets = ubTable.select(col("wbucket")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val postings =
      if (buckets.isEmpty)
        Parquet.read(spark, s"$path/postings")
          .where(lit(false)) // no query term exists in the corpus
      else Parquet.read(spark, s"$path/postings")
        .where(col("wbucket").isin(buckets: _*) &&
          col("word").isin(words: _*))
    val contribs = postings.join(broadcast(qt), "word")
      .select(col("query_id"), col("word"), col("doc_id"),
        col("contrib"))
    val ubByWord = ubTable.join(broadcast(qt), "word")
      .select(col("query_id"), col("word"), col("ub"))
    (contribs, ubByWord)
  }

  /** Persist an INCREMENTAL-friendly TF inverted index: `(word,
    * doc_id, tf)` postings partitioned by word bucket plus a
    * `path/docs` length table `(doc_id, dl)`; the build's manifest
    * commit carries the bucket count. Unlike [[writeBm25Index]]
    * nothing global is baked into the rows — TF and document length
    * are per-document FACTS that never change when the corpus grows,
    * which is what makes [[tfFamily]]'s `append` a pure parquet
    * append. The trade: queries recompute idf/avgdl at read time
    * ([[bm25TopKFromTfIndex]]) instead of summing precomputed
    * contribs. At 100 TB with daily ingest this is the index you
    * actually run — a full impact-index rebuild per increment is the
    * cost this artifact exists to avoid.
    */
  def writeTfIndex(docs: DataFrame, path: String,
      wordBuckets: Int = 512, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    require(wordBuckets >= 1)
    // a rebuild must not inherit a previous incarnation's tombstones,
    // counters, or versioned-dir pointers
    graft.sink.IndexLayout.freshLayout(docs.sparkSession, path)
    val tfF = termFrequencies(
      docs.select(col(idCol), col(textCol)), idCol, textCol)
    // the two fact trees are independent jobs off one checkpointed tf
    // frame — overlap them (guide §2.6; IndexLayout.inParallel); the
    // manifest commit after both is the build-complete marker
    graft.sink.IndexLayout.inParallel(
      () => graft.sink.IndexLayout.writeFacts(
        tfF.withColumn("wbucket",
          pmod(xxhash64(col("word")), lit(wordBuckets.toLong))),
        path, "postings", "wbucket"),
      () => graft.sink.IndexLayout.writeFlatFacts(
        tfF.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")),
        path, "docs"))
    graft.sink.IndexLayout.commitBuild(docs.sparkSession, path,
      "n_buckets" -> wordBuckets)
  }

  /** The TF family of [[graft.sink.IndexFamily]] — append, upsert,
    * delete, CDC, purge, compaction and streaming ingest of a
    * [[writeTfIndex]] artifact. Appending is the operation the impact
    * index cannot support (its stored contribs embed idf/avgdl, which
    * every new document shifts). Deletes and upserts tombstone
    * `doc_id`s; [[bm25TopKFromTfIndex]] filters the killed
    * generations out of BOTH postings and dl, so idf/avgdl/df — all
    * computed at read time — recompute correctly for free. CDC diffs
    * the flat `docs` table, never the postings body. */
  def tfFamily(idCol: String = "doc_id",
      textCol: String = "text"): graft.sink.IndexFamily =
    graft.sink.IndexFamily("tf", key = "doc_id", idCol = idCol,
      bucketCol = Some("wbucket"), flats = Seq("docs"),
      cdcTable = "docs",
      appendFacts = (path, docs, g) =>
        appendTfFacts(path, docs, idCol, textCol, g))

  private def appendTfFacts(path: String, newDocs: DataFrame,
      idCol: String, textCol: String, gen: Long): Unit = {
    val nBuckets = graft.sink.IndexManifest.latest(newDocs.sparkSession,
      path).params("n_buckets")
    val tfF = termFrequencies(
      newDocs.select(col(idCol), col(textCol)), idCol, textCol)
    graft.sink.IndexLayout.inParallel(
      () => graft.sink.IndexLayout.appendFacts(
        tfF.withColumn("wbucket",
          pmod(xxhash64(col("word")), lit(nBuckets.toLong))),
        path, "postings", "wbucket", gen),
      () => graft.sink.IndexLayout.appendFlatFacts(
        tfF.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")),
        path, "docs", gen))
  }

  /** Exhaustive BM25 top-k against a [[writeTfIndex]] artifact:
    * corpus statistics (n_docs, avgdl — one tiny aggregation of the
    * dl table) and per-word document frequencies are computed AT
    * QUERY TIME over the index's CURRENT state, so after any number
    * of [[tfFamily]] appends the ranking is BIT-IDENTICAL to
    * [[bm25TopK]] over the full corpus (q330's green hash is that
    * proof). Tombstone-killed generations ([[tfFamily]] deletes and
    * upserts) are filtered out of postings AND dl before
    * anything aggregates, so stats recompute as if the dead facts
    * never existed (q332's proof; the upsert row's for re-crawls).
    * The postings read is partition-pruned exactly like
    * [[bm25TopKFromIndex]]: query-word bucket ids become literal
    * `wbucket IN` filters plus a pushed `word IN` row filter.
    *
    * `pinned`: resolve EVERYTHING — subtrees and the visibility
    * watermark — from this caller-held snapshot instead of the
    * latest ([[graft.sink.IndexManifest.readAt]]): time travel over
    * the retained history, making a multi-query report bit-stable
    * while the crawler keeps mutating, until the snapshot ages out
    * of the [[graft.sink.IndexManifest.HistoryKeep]] window.
    */
  def bm25TopKFromTfIndex(spark: SparkSession, path: String,
      queries: Seq[(Int, String)], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      pinned: Option[graft.sink.IndexManifest] = None): DataFrame = {
    // ONE manifest read, every subtree resolved from the same snapshot
    // — a concurrent purge/compaction commit can never hand this query
    // a mixed pre/post view ([[graft.sink.IndexManifest]])
    val man = pinned.getOrElse(graft.sink.IndexManifest.latest(spark, path))
    def sub(l: String) = graft.sink.IndexLayout.dir(path, man, l)
    val nBuckets = man.params("n_buckets")
    val qt = queryTerms(spark, queries)
    val words = queries.flatMap(_._2.toLowerCase.split("\\s+"))
      .filter(_.nonEmpty).distinct
    // bucket ids via the SAME xxhash64 expression the writers used —
    // a query-batch-bounded collect (the documented driver contract)
    val buckets = qt
      .select(pmod(xxhash64(col("word")), lit(nBuckets.toLong)).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq
    // tombstones: the generation kill floor (gen >= below_gen keeps
    // upsert-refreshed facts, drops their stale generations; a plain
    // delete kills every current generation). No broadcast hint —
    // Catalyst already broadcasts small aggregated floors
    // (plan-verified, IndexLayout.tombstoneFloor); a GDPR purge list
    // can be any size, AQE picks the join strategy.
    val floor = graft.sink.IndexLayout.tombstoneFloor(
      spark, path, "doc_id", man)
    // visibleFacts first: only PUBLISHED generations serve (the
    // reader-atomic mutation contract — an in-flight upsert's rows,
    // tombstones and facts alike, stay invisible until its one
    // publish commit; a pinned snapshot freezes the watermark too)
    def minusTomb(df: DataFrame): DataFrame =
      graft.sink.IndexLayout.applyTombstones(
        graft.sink.IndexLayout.visibleFacts(df, man), floor, "doc_id")
        .drop("gen")
    val postings = minusTomb(
      if (words.isEmpty)
        Parquet.read(spark, sub("postings")).where(lit(false))
      else Parquet.read(spark, sub("postings"))
        .where(col("wbucket").isin(buckets: _*) &&
          col("word").isin(words: _*)))
    val dl = minusTomb(Parquet.read(spark, sub("docs")))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val dfreq = postings.groupBy(col("word")).agg(count(lit(1)).as("df"))
    // contrib is query-independent: compute the rounded expression on
    // the (word, doc) posting frame ONCE, expand to query ids after
    // (same argument as [[bm25Contribs]] — values bit-identical,
    // |postings| instead of |queries × postings| expression
    // evaluations; optimization round 19)
    val contribs = postings
      .join(dfreq, Seq("word"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("word"), col("doc_id"),
        round(
          log(lit(1.0) +
            (col("n_docs").cast("double") - col("df") + lit(0.5))
              / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))),
          6).cast("decimal(20,6)").as("contrib"))
      .join(broadcast(qt), "word")
      .select(col("query_id"), col("doc_id"), col("contrib"))
    rankTopK(
      contribs.groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("contrib")).cast("double").as("score")),
      k, excludeSelf = false)
  }

  /** Exhaustive top-k against a [[writeBm25Index]] artifact — the
    * partition-pruned read, then the plain sum + rank. */
  def bm25TopKFromIndex(spark: SparkSession, path: String,
      queries: Seq[(Int, String)], k: Int): DataFrame = {
    val (contribs, _) = indexPostingsFor(spark, path, queries)
    rankTopK(
      contribs.groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("contrib")).cast("double").as("score")),
      k, excludeSelf = false)
  }

  /** Max-score-pruned top-k against a [[writeBm25Index]] artifact —
    * the DRIVER-COORDINATED plan a distributed WAND query coordinator
    * actually runs. All coordination state is query-batch-bounded and
    * collected deliberately (the documented driver-frame contract):
    * per-word upper bounds (≤ Σ query terms), seed candidate ids
    * (≤ |queries|·k), thresholds θ (≤ |queries|). Every value becomes
    * a LITERAL filter, so each posting read is partition-pruned to
    * exactly the directories it needs:
    *
    *  1. ub metadata read (vocabulary-of-the-query-sized);
    *  2. seed read: ONLY the per-query top-ub term's buckets — its
    *     top-k postings are the candidates;
    *  3. θ read: query-word buckets row-filtered to the ≤ q·k
    *     candidate ids (parquet row-group stats prune here too);
    *     θ(q) = k-th best candidate full score, exact decimal;
    *  4. essential terms per query computed driver-side (BigDecimal
    *     suffix sums over the collected ubs — exact, same domain as
    *     the stored decimals);
    *  5. survivor read: ONLY the essential terms' buckets → distinct
    *     survivor docs; final read: query-word buckets semi-joined to
    *     survivors ∪ candidates (broadcast-sized for selective
    *     queries), summed and ranked.
    *
    * Bit-identical to [[bm25TopKFromIndex]] (spec-pinned — the same
    * safety argument as [[bm25TopKPruned]]: only documents whose
    * matched-ub total is provably BELOW θ are skipped, and θ is an
    * exact lower bound of the true k-th score). Queries with fewer
    * than k seed candidates take θ = −∞ (nothing pruned for them).
    */
  def bm25TopKPrunedFromIndex(spark: SparkSession, path: String,
      queries: Seq[(Int, String)], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val qWords: Map[Long, Seq[String]] = queries.map { case (q, t) =>
      q.toLong -> t.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .distinct.toSeq
    }.toMap
    val words = qWords.values.flatten.toSeq.distinct
    // (1) metadata: word → (bucket, ub) — query-batch-sized collect
    val ubRows = Parquet.read(spark, s"$path/ub")
      .filter(col("word").isin(words: _*))
      .select(col("word"), col("wbucket"), col("ub")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    val emptyResult = spark.emptyDataset[(Long, Long, Double, Long)]
      .toDF("query_id", "doc_id", "score", "rank")
    if (ubRows.isEmpty) return emptyResult
    def bucketsOf(ws: Iterable[String]): Seq[Long] =
      ws.flatMap(ubRows.get).map(_._1).toSeq.distinct
    def readPostings(ws: Iterable[String]): DataFrame = {
      val present = ws.filter(ubRows.contains).toSeq.distinct
      if (present.isEmpty)
        Parquet.read(spark, s"$path/postings").where(lit(false))
      else Parquet.read(spark, s"$path/postings")
        .where(col("wbucket").isin(bucketsOf(present): _*) &&
          col("word").isin(present: _*))
    }
    // per query: terms present in the corpus, best-ub term first
    // sort key: exact micro-units of the scale-6 decimal (no float
    // boundary in the tie discipline)
    val termsByQ: Map[Long, Seq[String]] = qWords.view.mapValues(
      _.filter(ubRows.contains)
        .sortBy(w => (-ubRows(w)._2.movePointRight(6).longValueExact(),
          w))).toMap
      .filter(_._2.nonEmpty)
    if (termsByQ.isEmpty) return emptyResult
    // (2) seed candidates: top-k postings of each query's top term
    val topPairs = termsByQ.toSeq.map { case (q, ts) => (q, ts.head) }
    val topPairsDf = topPairs.toDF("query_id", "word")
    val wSeed = Window.partitionBy(col("query_id"))
      .orderBy(col("contrib").desc, col("doc_id"))
    val candRows = readPostings(topPairs.map(_._2))
      .join(broadcast(topPairsDf), "word")
      .withColumn("_r", row_number().over(wSeed))
      .filter(col("_r") <= k)
      .select(col("query_id"), col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // (3) θ = the k-th best FULL candidate score, from one
    // doc-filtered read over the query buckets — an exact LOWER bound
    // of the true k-th score (pruning with a lower bound is lossless)
    val candIds = candRows.map(_._2).distinct.toSeq
    val candPairsDf = candRows.toSeq.toDF("query_id", "doc_id")
    val qtAll = queryTerms(spark, queries)
    val wTheta = Window.partitionBy(col("query_id"))
      .orderBy(col("cscore").desc, col("doc_id"))
    val thetaRows: Map[Long, java.math.BigDecimal] =
      readPostings(words)
        .where(col("doc_id").isin(candIds: _*))
        .join(broadcast(qtAll), "word")
        .join(broadcast(candPairsDf), Seq("query_id", "doc_id"),
          "left_semi")
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("contrib")).as("cscore"))
        .withColumn("_r", row_number().over(wTheta))
        .filter(col("_r") === k)
        .select(col("query_id"), col("cscore")).collect()
        .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    // (4) essential terms per query — exact BigDecimal suffix sums
    val essPairs: Seq[(Long, String)] = termsByQ.toSeq.flatMap {
      case (q, ts) =>
        thetaRows.get(q) match {
          case None => ts.map(q -> _) // < k candidates: prune nothing
          case Some(theta) =>
            val ubs = ts.map(w => ubRows(w)._2)
            val suffix = ubs.scanRight(java.math.BigDecimal.ZERO)(
              _.add(_)).init
            ts.zip(suffix).collect {
              case (w, s) if s.compareTo(theta) >= 0 => q -> w
            }
        }
    }
    // (5) survivors (essential-bucket read only) ∪ candidates, then
    // the final scoring read over the query buckets
    val essWords = essPairs.map(_._2).distinct
    val essDf = essPairs.toDF("query_id", "word")
    val survivors = readPostings(essWords)
      .join(broadcast(essDf), Seq("word"))
      .where(col("query_id").isNotNull)
      .select(col("query_id"), col("doc_id"))
      .union(candPairsDf.select(col("query_id").cast("long"),
        col("doc_id").cast("long")))
      .distinct()
    val scored = readPostings(words)
      .join(broadcast(qtAll), "word")
      .join(survivors, Seq("query_id", "doc_id"), "left_semi")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).cast("double").as("score"))
    rankTopK(scored, k, excludeSelf = false)
  }

  /** Max-score-pruned BM25 top-k (Turtle & Flood 1995's max-score;
    * the term-partitioning half of the WAND family, Broder et al.
    * 2003) — identical output to [[bm25TopK]], candidate-bounded
    * work. The exhaustive arm sums EVERY matched posting into the
    * (query, doc) aggregation and ranks every matched document; at
    * 100 TB a query with one rare and four common terms pays the
    * common terms' corpus-sized posting lists. Max-score skips them:
    *
    *  1. per-(query, term) upper bound `ub = max(contrib)` over the
    *     term's posting list — exact decimal maxima of the same
    *     rounded contribs the scores sum (at deployment scale this
    *     frame is index metadata, computed once per corpus build);
    *  2. a THRESHOLD θ = the k-th best FULL score among a seed
    *     candidate set (the top-k postings of the highest-ub term) —
    *     any ≥k-doc set gives a valid lower bound of the true k-th
    *     score (order statistics of a subset can only be lower);
    *  3. terms are ordered by ub descending and suffix-summed;
    *     the maximal suffix with `Σ ub < θ` is NON-ESSENTIAL
    *     (contribs are positive, so a document matching only
    *     non-essential terms has score ≤ that suffix sum < θ — it
    *     cannot displace any of the k candidates even on the
    *     doc_id tiebreak, which only breaks EQUAL scores);
    *  4. only documents matching ≥1 essential term (plus the seed
    *     candidates) are fully scored and ranked.
    *
    * Every comparison is exact DECIMAL(20,6) — the pruned top-k is
    * bit-identical to the exhaustive one (spec-pinned across k and on
    * an all-ties corpus; the q301 catalog row runs pruned Spark
    * against the EXHAUSTIVE DuckDB oracle). Degenerate vocabularies
    * (every doc matches every term, e.g. the synthetic corpus) leave
    * only the top term essential but survivors ≈ corpus — the
    * measured win needs real Zipfian term selectivity
    * (PLANS.md rounds 12–13 record the survivor fraction and crossover).
    */
  def bm25TopKPruned(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Int, String)], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      tf: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    val qterms = queries.flatMap { case (qid, text) =>
      text.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
        .map(w => (qid.toLong, w))
    }
    val qt = spark.createDataFrame(qterms).toDF("query_id", "word")
    prunedTopK(
      bm25Contribs(docs, idCol, textCol, qt, k1, b, tf), k)
  }

  /** [[bm25TopKPruned]] with a DataFrame query set `(query_id,
    * qtext)` — the pruned twin of [[bm25TopKFrame]] (doc-as-query
    * retrieval). Output is bit-identical to the exhaustive frame
    * variant at the same arguments.
    */
  def bm25TopKFramePruned(docs: DataFrame, idCol: String,
      textCol: String, queriesDf: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false,
      tf: Option[DataFrame] = None): DataFrame = {
    val qt = queriesDf
      .select(col("query_id"),
        explode(TextOps.words(col("qtext"))).as("word"))
      .distinct()
    val contribs = bm25Contribs(docs, idCol, textCol, qt, k1, b, tf)
    prunedTopK(
      if (excludeSelf) contribs.where(col("doc_id") =!= col("query_id"))
      else contribs,
      k)
  }

  /** The max-score machinery over a contribs frame — see
    * [[bm25TopKPruned]] for the algorithm and safety argument.
    */
  private def prunedTopK(contribs0: DataFrame, k: Int): DataFrame = {
    // the contribs stream is read three times (upper bounds, seed
    // candidates, final scoring), and re-deriving it re-runs the
    // posting join: materialize it once. localCheckpoint (not
    // persist): blocks release when the frame is unreferenced, so
    // ad-hoc queries don't leak CacheManager entries
    val contribs = contribs0.localCheckpoint()
    val survivors = survivorDocs(contribs, k)
    val scored = contribs
      .join(survivors, Seq("query_id", "doc_id"), "left_semi")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).cast("double").as("score"))
    rankTopK(scored, k, excludeSelf = false)
  }

  /** Survivor documents `(query_id, doc_id)` of the max-score prune —
    * the set whose postings the final scoring aggregation touches.
    */
  private[graft] def survivorDocs(contribs: DataFrame, k: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // (1) per-(query, term) upper bounds — |queries|·|terms| rows
    val ub = contribs.groupBy(col("query_id"), col("word"))
      .agg(max(col("contrib")).as("ub"))
    // (2) seed candidates: top-k postings of the top-ub term, then
    // their FULL scores; θ = the k-th (null if fewer than k — then
    // nothing is pruned)
    val wTerm = Window.partitionBy(col("query_id"))
      .orderBy(col("ub").desc, col("word"))
    val topTerm = ub.withColumn("_r", row_number().over(wTerm))
      .filter(col("_r") === 1).select(col("query_id"), col("word"))
    val wPost = Window.partitionBy(col("query_id"))
      .orderBy(col("contrib").desc, col("doc_id"))
    val cand = contribs
      .join(broadcast(topTerm), Seq("query_id", "word"))
      .withColumn("_r", row_number().over(wPost))
      .filter(col("_r") <= k)
      .select(col("query_id"), col("doc_id"))
    val wCand = Window.partitionBy(col("query_id"))
      .orderBy(col("cscore").desc, col("doc_id"))
    val theta = contribs
      .join(broadcast(cand), Seq("query_id", "doc_id"), "left_semi")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("cscore"))
      .withColumn("_r", row_number().over(wCand))
      .groupBy(col("query_id"))
      .agg(max(when(col("_r") === k, col("cscore"))).as("theta"))
    // (3) essential terms: suffix sums over (ub desc, word) — a term
    // whose suffix sum < θ cannot, together with everything below it,
    // reach θ (contribs > 0 ⇒ suffixes decrease monotonically)
    val wSuffix = Window.partitionBy(col("query_id"))
      .orderBy(col("ub").desc, col("word"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val essential = ub
      .withColumn("suffix", sum(col("ub")).over(wSuffix))
      .join(broadcast(theta), Seq("query_id"), "left")
      .where(col("theta").isNull || col("suffix") >= col("theta"))
      .select(col("query_id"), col("word"))
    // (4) survivors = docs with ≥1 essential posting ∪ seed candidates
    contribs
      .join(broadcast(essential), Seq("query_id", "word"), "left_semi")
      .select(col("query_id"), col("doc_id"))
      .union(cand)
      .distinct()
  }

  private def rankTopK(scored: DataFrame, k: Int,
      excludeSelf: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base =
      if (excludeSelf) scored.where(col("doc_id") =!= col("query_id"))
      else scored
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    base
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("query_id").cast("bigint").as("query_id"),
        col("doc_id"), col("score"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Reciprocal-rank fusion of a sparse BM25 arm and a dense
    * cosine-kNN arm (Cormack, Clarke & Büttcher 2009, "Reciprocal
    * Rank Fusion outperforms Condorcet and individual Rank Learning
    * Methods") — the standard hybrid-search combiner of RAG retrieval
    * stacks: `rrf(d) = Σ_arms 1/(kRrf + rank_arm(d))`, rank-only, so
    * the arms' incomparable score scales never need calibration.
    *
    * Query documents are `queryIds` (their text drives the sparse
    * arm, their embedding the dense arm; the self-match is excluded
    * from both). Scale: each arm is its proven operator
    * ([[bm25TopKFrame]] posting-list filter; [[Similarity
    * .bruteForceTopK]] broadcast scan — swap in `ivfPqTopK` for the
    * ANN path at 100 TB); fusion is a full-outer join of two
    * (queries × armK)-sized frames — driver-scale, broadcastable.
    * The rrf score is one fixed-shape double expression of BIGINT
    * ranks (engine-identical), rounded to 6 before the deterministic
    * (rrf DESC, doc_id) ranking.
    */
  def rrfHybrid(docs: DataFrame, idCol: String, textCol: String,
      embs: DataFrame, queryIds: Seq[Long], armK: Int, k: Int,
      kRrf: Int = 60, embIdCol: String = "vec_id",
      embCol: String = "embedding",
      k1: Double = 1.2, b: Double = 0.75,
      tf: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queriesDf = docs.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(textCol).as("qtext"))
    val sparse = bm25TopKFrame(docs, idCol, textCol, queriesDf, armK,
        k1, b, excludeSelf = true, tf = tf)
      .select(col("query_id"), col("doc_id"),
        col("rank").as("r_sparse"))
    val dense = Similarity.bruteForceTopK(
        embs.filter(col(embIdCol).isin(queryIds: _*)), embs, armK,
        idCol = embIdCol, embCol = embCol)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("r_dense"))
    val fused = sparse
      .join(dense, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        round(
          coalesce(lit(1.0) / (lit(kRrf) + col("r_sparse")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("r_dense")), lit(0.0)),
          6).as("rrf"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rrf"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Oracle-side CTE chain for [[bm25TopK]] ending in scored hits
    * `sc(query_id, doc_id, score)` — shared verbatim by the catalog
    * query and any consumer so Spark and DuckDB arithmetic cannot
    * drift. `queriesValues` is a SQL VALUES list of (query_id, qtext).
    */
  def bm25OracleCtes(queriesValues: String, k1: Double, b: Double,
      docsWhere: String = "", docsFrom: String = "documents"): String =
    bm25OracleCtesQr(
      s"qr(query_id, qtext) AS (VALUES $queriesValues)", k1, b,
      docsWhere, docsFrom)

  /** Same chain with an arbitrary SQL definition for the query CTE
    * `qr(query_id, qtext)` — for doc-as-query retrieval (q144's
    * hybrid arms derive queries from the corpus itself).
    * `docsWhere` restricts the corpus (q332's rebuild-without-deleted
    * oracle); `docsFrom` substitutes a derived corpus source (the
    * upsert row's rebuild-with-mutated-text oracle).
    */
  def bm25OracleCtesQr(qrCte: String, k1: Double, b: Double,
      docsWhere: String = "", docsFrom: String = "documents"): String =
    s"""w AS (SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '\\s+'),
       |    x -> len(x) > 0) AS ws FROM $docsFrom${
         if (docsWhere.isEmpty) "" else s" WHERE $docsWhere"}),
       |tf AS (SELECT doc_id, unnest(ws) AS word FROM w),
       |tfc AS (SELECT doc_id, word, COUNT(*) AS tf FROM tf
       |  GROUP BY 1, 2),
       |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tfc GROUP BY 1),
       |st AS (SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       |$qrCte,
       |qt AS (SELECT DISTINCT query_id, unnest(list_filter(
       |    string_split_regex(lower(qtext), '\\s+'),
       |    x -> len(x) > 0)) AS word FROM qr),
       |m AS (SELECT qt.query_id, tfc.doc_id, tfc.word, tfc.tf
       |  FROM tfc JOIN qt USING (word)),
       |dfq AS (SELECT query_id, word, COUNT(*) AS df FROM m
       |  GROUP BY 1, 2),
       |sc AS (SELECT m.query_id, m.doc_id,
       |    CAST(SUM(CAST(round(
       |      ln(1.0 + (CAST(st.n_docs AS DOUBLE) - dfq.df + 0.5)
       |        / (dfq.df + 0.5)) *
       |      (m.tf * ($k1 + 1.0)) /
       |      (m.tf + $k1 * (1.0 - $b + $b * dl.dl / st.avgdl)),
       |      6) AS DECIMAL(20,6))) AS DOUBLE) AS score
       |  FROM m
       |  JOIN dfq USING (query_id, word)
       |  JOIN dl ON m.doc_id = dl.doc_id
       |  CROSS JOIN st
       |  GROUP BY 1, 2)""".stripMargin
}
