package graft.examples

import graft.operators.{Dedup, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-data curation pipeline — the composition story:
  * every stage is one of the library's operators, and the whole flow is
  * a single lazy DataFrame program (one action at the end writes it).
  *
  *   1. quality gate    — cheap per-row text heuristics (q31 family)
  *   2. exact dedup     — fingerprint hash-groupBy, keep min doc_id
  *   3. near-dup dedup  — Jaccard pairs → connected components → keep
  *                        each cluster's representative
  *   4. split           — reproducible cluster-keyed hash split (no
  *                        near-duplicate leakage across train/val/test)
  *
  * Output: curated docs with (cluster, split), ready for
  * `write.partitionBy("split")`.
  */
object CorpusCuration {

  def curate(docs: DataFrame,
      minWords: Int = 5,
      jaccardThreshold: Double = 0.6,
      cuts: Seq[(String, Int)] =
        Seq("train" -> 80, "val" -> 10, "test" -> 10)): DataFrame = {

    // 1. quality gate: enough words, sane mean word length
    val ws = TextOps.words(col("text"))
    val quality = docs
      .withColumn("_nw", size(ws))
      .filter(col("_nw") >= minWords)
      .withColumn("_mwl",
        (length(concat_ws("", ws)) / col("_nw")))
      .filter(col("_mwl").between(2.0, 12.0))
      .drop("_nw", "_mwl")

    // 2. exact dedup: one survivor per normalized-text fingerprint
    val wFp = Window.partitionBy(col("_fp")).orderBy(col("doc_id"))
    val exact = quality
      .withColumn("_fp", TextOps.fingerprint(col("text")))
      .withColumn("_rn", row_number().over(wFp))
      .filter(col("_rn") === 1)
      .drop("_fp", "_rn")

    // 3. near-dup dedup: keep each Jaccard-cluster's min-id doc
    val pairs = Dedup.jaccardPairs(exact, "doc_id", "text",
      n = 3, threshold = jaccardThreshold)
    val clusters = Dedup.connectedComponents(
      pairs, exact.select(col("doc_id")), "doc_id")
    val kept = exact
      .join(clusters.withColumnRenamed("id", "doc_id"), "doc_id")
      .filter(col("doc_id") === col("cluster"))

    // 4. reproducible cluster-keyed split
    kept.withColumn("split",
      TextOps.hashSplit(col("cluster"), cuts))
  }

  /** The round-5 composition (extended round 7): the full curation
    * ladder a pretraining corpus actually runs, each stage one library
    * operator, the whole flow one lazy program.
    *
    *   1. blocklist gate      — term-hit rejection (q75)
    *   2. quality gate        — repetition/diversity verdict, native
    *                            kernel (q71)
    *   3. compression filter  — DEFLATE ratio bounds: drops both
    *                            machine repetition and gibberish (q81)
    *   3b. span-repeat gate   — off-grid verbatim re-paste fraction
    *                            above `maxRepeatFrac` rejects (q93)
    *   3c. decontamination    — optional `bench` corpus: Bloom-filter
    *                            shingle screen rejects contaminated
    *                            docs (q94)
    *   3d. bigram-LM gate     — optional `minBigramLogProb`: documents
    *                            scoring below the threshold under the
    *                            corpus's own add-one-smoothed bigram
    *                            model reject (word salad whose unigrams
    *                            look fine — q100); the score survives
    *                            as the `bigram_logp` audit column on
    *                            every kept row
    *   3e. classifier gate    — optional `minClassifierMargin`:
    *                            documents whose hashed-linear-model
    *                            margin (q104, the fastText-style
    *                            inference kernel) falls below the
    *                            threshold reject; the margin survives
    *                            as the `classifier_margin` audit column
    *   3f. TRAINED gate       — optional `trainedClassifier`
    *                            `(labelCol, minMargin)`: train the
    *                            hashed logistic model on the corpus's
    *                            own labels (q107), serve the trained
    *                            weights through the fused kernel
    *                            (q108), and reject documents whose
    *                            trained margin falls below `minMargin`;
    *                            the margin survives as the
    *                            `trained_margin` audit column
    *   4. exact dedup         — fingerprint, min-id survivor
    *   5. near-dup dedup      — MinHash-LSH candidates → connected
    *                            components → keep each cluster's BEST
    *                            member by the q31 quality score (ties
    *                            to the lowest doc_id), not "drop all" /
    *                            not blind min-id (q26/q45/q99)
    *   6. mixture sampling    — per-stratum rates from a token budget,
    *                            executed by the deterministic md5
    *                            sampler (q76 → q69)
    *   7. split + packing     — cluster-keyed split (no near-dup
    *                            leakage), then per-(split, stratum)
    *                            sequence packing into context bins
    *                            (q46, q79)
    *
    * The mixture rates are collected to the driver — a strata-sized
    * CONFIG table, the one collect a config-in-data flow legitimately
    * makes (rates would come from a file in production).
    */
  def curateForTraining(docs: DataFrame,
      blocklist: Seq[String] = Seq("slow", "dup"),
      maxHits: Int = 3,
      minWords: Int = 20,
      ratioBounds: (Double, Double) = (0.05, 0.9),
      minEst: Double = 0.7,
      shares: Map[String, Double] = Map("en" -> 0.5, "zh" -> 0.2,
        "de" -> 0.1, "es" -> 0.1, "fr" -> 0.1),
      tokenBudget: Long = 20000L,
      window: Long = 512L,
      cuts: Seq[(String, Int)] =
        Seq("train" -> 80, "val" -> 10, "test" -> 10),
      maxRepeatFrac: Double = 0.1,
      spanWords: Int = 8,
      bench: Option[DataFrame] = None,
      benchShingle: Int = 8,
      minBigramLogProb: Option[Double] = None,
      minClassifierMargin: Option[Double] = None,
      trainedClassifier: Option[(org.apache.spark.sql.Column, Double)] =
        None,
      scoreStopwords: Seq[String] =
        Seq("the", "of", "and", "a", "to", "in", "is"),
      packByBpeMerges: Option[Int] = None): DataFrame = {
    import graft.operators.Curation
    val spark = docs.sparkSession
    implicit val sp: org.apache.spark.sql.SparkSession = spark

    // 1-3: three map-side verdict scans unioned into one rejection set
    // (each gate keeps its own operator form; a fused single-projection
    // variant would save two scans at the cost of composability)
    val blocked = Curation.blocklistGate(docs, "text", "doc_id",
      blocklist, maxHits).filter(col("blocked")).select(col("doc_id"))
    val lowQuality = Curation.qualityGate(docs, "text", "doc_id",
      minWords = minWords).filter(col("reason") =!= "kept")
      .select(col("doc_id"))
    val badRatio = Curation.compressionStats(docs, "text", "doc_id")
      .filter(col("ratio").isNull ||
        !col("ratio").between(ratioBounds._1, ratioBounds._2))
      .select(col("doc_id"))
    // 3b: off-grid re-paste fraction (stride-1 spans — catches the
    // repeats the aligned block grid and the bigram signal both miss)
    val repetitive = Curation.spanRepeatStats(docs, "text", "doc_id",
        spanWords)
      .filter(col("repeat_frac") > maxRepeatFrac).select(col("doc_id"))
    // 3c: optional benchmark decontamination via the Bloom screen.
    // benchShingle is its OWN knob (not spanWords): tightening the
    // re-paste gate to short spans must not silently narrow the
    // decontamination n-gram, which would flag clean docs on common
    // short phrases shared with any benchmark.
    val contaminated = bench.map(b =>
      Curation.bloomDecontaminate(docs, b, "text", "doc_id",
          n = benchShingle, mBits = 1L << 22, kHashes = 4)
        .filter(col("contaminated")).select(col("doc_id")))
    // 3d: optional bigram-LM gate. The score frame is computed ONCE
    // (bigramLogProb materializes its tf aggregate internally) and
    // reused twice: the rejection filter here, and the `bigram_logp`
    // audit column joined onto the surviving rows below. Docs with < 2
    // words have no bigram score and are never rejected by THIS gate
    // (minWords already handles them).
    val bgScores = minBigramLogProb.map(_ =>
      Curation.bigramLogProb(docs, "text", "doc_id")
        .select(col("doc_id"), col("avg_logp").as("bigram_logp")))
    val wordSalad = minBigramLogProb.zip(bgScores).map {
      case (thr, bg) =>
        bg.filter(col("bigram_logp") < thr).select(col("doc_id"))
    }
    // 3e: optional model-inference gate — the q104 hashed-linear
    // classifier's margin (one fused map-side kernel pass). Same
    // score-once/use-twice discipline as 3d: the rejection filter
    // here, the `classifier_margin` audit column below. Feature-less
    // docs carry a NULL margin and are never rejected by THIS gate
    // (minWords already handles them) — the filter is null-safe false.
    val clsScores = minClassifierMargin.map(_ =>
      graft.operators.Classifier.hashedLinearScore(docs, "text", "doc_id")
        .select(col("doc_id"), col("margin").as("classifier_margin")))
    val lowMargin = minClassifierMargin.zip(clsScores).map {
      case (thr, cs) =>
        cs.filter(col("classifier_margin") < thr).select(col("doc_id"))
    }
    // 3f: optional TRAINED gate — train on the corpus's own labels
    // (q107's exact GD), serve the model-sized weight vector through
    // the fused kernel (q108). The train step collects ≤64 longs —
    // model-sized, the one collect a train-then-serve flow makes.
    // Feature-less docs carry a NULL margin and pass (as in 3e).
    val trScores = trainedClassifier.map { case (labelCol, _) =>
      import graft.operators.Classifier
      val buckets = 64
      val model = Classifier.trainHashedLogistic(docs, "text", "doc_id",
          labelCol, buckets = buckets, iters = 2)
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
      val weights = Array.tabulate(buckets)(b => model.getOrElse(b, 0L))
      Classifier.hashedLinearScoreWith(docs, "text", "doc_id", weights,
          buckets = buckets)
        .select(col("doc_id"), col("margin").as("trained_margin"))
    }
    val offTarget = trainedClassifier.zip(trScores).map {
      case ((_, thr), sc) =>
        sc.filter(col("trained_margin") < thr).select(col("doc_id"))
    }
    val rejected =
      (Seq(blocked, lowQuality, badRatio, repetitive) ++ contaminated ++
        wordSalad ++ lowMargin ++ offTarget).reduce(_ union _).distinct()
    val cleanBase = docs.join(rejected, Seq("doc_id"), "left_anti")
    val clean = (bgScores ++ clsScores ++ trScores)
      .foldLeft(cleanBase)((d, sc) => d.join(sc, Seq("doc_id"), "left"))

    // 4: exact dedup
    val wFp = Window.partitionBy(col("_fp")).orderBy(col("doc_id"))
    val exact = clean
      .withColumn("_fp", TextOps.fingerprint(col("text")))
      .withColumn("_rn", row_number().over(wFp))
      .filter(col("_rn") === 1)
      .drop("_fp", "_rn")

    // 5: near-dup clusters via MinHash-LSH (the scale path — q26),
    // resolved by KEEP-BEST: each cluster keeps its highest-quality
    // member (q31 score, ties to lowest doc_id) via the map-side
    // max_by partial aggregation — "keep one, not drop all", and not
    // the blind min-id representative either (q99's operator)
    val pairs = Dedup.minhashCandidates(exact, "doc_id", "text",
        n = 3, k = 16, bands = 4, minEst = minEst)
      .select(col("da"), col("db"))
    val clusters = Dedup.connectedComponents(
      pairs, exact.select(col("doc_id")), "doc_id")
    val scored = exact
      .select(col("doc_id"), TextOps.words(col("text")).as("_ws"))
      .select(col("doc_id"),
        TextOps.qualityScore(col("_ws"), scoreStopwords).as("_q"))
      .filter(col("_q").isNotNull)
    val best = Dedup.keepBestPerCluster(clusters, scored, "doc_id", "_q")
    val kept = exact
      .join(clusters.withColumnRenamed("id", "doc_id"), "doc_id")
      .join(best.select(col("kept_id").as("doc_id")), Seq("doc_id"),
        "left_semi")

    // 6: mixture rates → deterministic sampler (config-in-data).
    // round(), not a bare int cast: rate·100 in IEEE double can land
    // epsilon under the integer (0.29·100 = 28.999…96) and truncation
    // would under-sample the stratum by a full point.
    val rates = Curation.mixtureRates(kept, "text", "lang",
        shares, tokenBudget)
      .select(col("lang"), round(col("rate") * 100).cast("int").as("pct"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val sampled = Curation.stratifiedSample(kept, "lang", "doc_id",
      rates, defaultPct = 0).filter(col("sample_keep"))
      .drop("sample_keep")

    // 7: cluster-keyed split, then per-(split, lang) sequence packing —
    // packSequences retains its input columns, so the bins attach as a
    // window over THIS frame (no self-join that would re-run the whole
    // upstream pipeline a second time)
    val split = sampled.withColumn("split",
      TextOps.hashSplit(col("cluster"), cuts))
    val packInput = split.withColumn("_stratum",
      concat_ws("/", col("split"), col("lang")))
    packByBpeMerges match {
      case Some(k) =>
        // token-budget bins measured in TRAINED-BPE tokens — the count
        // that actually fills a model's context window. The tokenizer
        // is learned on the CURATED subset itself (post-gate corpus =
        // the distribution the model will see); counts join in as the
        // `bpe_tokens` audit column and drive the packing arithmetic.
        val learned = graft.operators.Bpe.learnMerges(
          spark, packInput, "text", k)
        val counts = graft.operators.Bpe.docTokenCounts(
          packInput, "text", "doc_id", learned)
        Curation.packSequences(
            packInput.join(counts, Seq("doc_id")),
            "text", "doc_id", "_stratum", window,
            tokenCountCol = Some("bpe_tokens"))
          .drop("_stratum")
      case None =>
        Curation.packSequences(packInput,
            "text", "doc_id", "_stratum", window)
          .drop("_stratum")
    }
  }

  /** Topic mining — the retrieval-then-curate composition: BM25 pulls
    * the k most relevant documents for a human query out of the
    * corpus (q115's operator — at 100 TB, the posting-list filter
    * touches only the query terms' rows), and the [[curate]] ladder
    * (quality gate → exact dedup → near-dup clusters → leakage-safe
    * split) runs over ONLY the retrieved subset. This is the "build
    * me a clean training subset about X" flow; the BM25 score rides
    * through as an audit column, so downstream weighting (e.g.
    * [[graft.operators.Curation.weightedSample]] by relevance) can
    * chain directly.
    */
  def mineTopic(docs: DataFrame, query: String, k: Int,
      minWords: Int = 5,
      jaccardThreshold: Double = 0.6,
      cuts: Seq[(String, Int)] =
        Seq("train" -> 80, "val" -> 10, "test" -> 10)): DataFrame = {
    val hits = graft.operators.Retrieval
      .bm25TopK(docs, "doc_id", "text", Seq(1 -> query), k)
      .select(col("doc_id"), col("score").as("bm25_score"))
    val subset = docs.join(hits, "doc_id")
    curate(subset, minWords, jaccardThreshold, cuts)
  }
}
