package graft.examples

import graft.SparkSpec
import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** The composed curation pipeline on real corpus data: invariants that
  * must hold for any input.
  */
class CorpusCurationSpec extends SparkSpec {

  private lazy val docs =
    graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")

  private lazy val curated = CorpusCuration.curate(docs).cache()

  test("no two survivors share a fingerprint (exact dedup held)") {
    val fps = curated.select(TextOps.fingerprint(col("text")).as("fp"))
    assert(fps.count() == fps.distinct().count())
  }

  test("every survivor is its own cluster representative") {
    assert(curated.filter(col("doc_id") =!= col("cluster")).count() == 0)
  }

  test("splits partition the survivors and are cluster-keyed") {
    val total = curated.count()
    assert(total > 0)
    val bySplit = curated.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    assert(bySplit.values.sum == total)
    assert(bySplit.getOrElse("train", 0L) > bySplit.getOrElse("val", 0L))
  }

  test("near-duplicates were actually removed") {
    // the raw corpus has planted near-dups; curation must shrink it
    assert(curated.count() < docs.count())
    // and no surviving pair is >= threshold-similar
    val resid = graft.operators.Dedup.jaccardPairs(
      curated.select("doc_id", "text"), "doc_id", "text", 3, 0.6)
    assert(resid.count() == 0)
  }

  test("curateForTraining: every gate held, packing contiguous per stratum") {
    import graft.operators.Curation
    val out = CorpusCuration.curateForTraining(docs).cache()
    try {
      val n = out.count()
      assert(n > 0 && n < docs.count())
      // blocklist + quality + ratio gates held on the survivors
      val ids = out.select("doc_id")
      assert(Curation.blocklistGate(docs, "text", "doc_id",
          Seq("slow", "dup"), 3)
        .filter(col("blocked")).join(ids, "doc_id").count() == 0)
      assert(Curation.qualityGate(docs, "text", "doc_id", minWords = 20)
        .filter(col("reason") =!= "kept")
        .join(ids, "doc_id").count() == 0)
      // keep-best cluster resolution: EXACTLY ONE kept member per
      // cluster (the quality-argmax, per q99's oracle-gated operator —
      // no longer necessarily the min-id representative)
      assert(out.groupBy("cluster").count()
        .filter(col("count") > 1).count() == 0)
      // packing: bins start at 0 and are contiguous within each stratum
      val bins = out
        .withColumn("_stratum",
          concat_ws("/", col("split"), col("lang")))
        .groupBy("_stratum")
        .agg(min(col("bin")).as("mn"), max(col("bin")).as("mx"),
          count_distinct(col("bin")).as("nd"))
        .collect()
      bins.foreach { r =>
        assert(r.getAs[Long]("mn") == 0L)
        assert(r.getAs[Long]("nd") == r.getAs[Long]("mx") + 1)
      }
      // sampling: no stratum without a share survives (defaultPct 0)
      val langs = out.select("lang").distinct().collect()
        .map(_.getString(0)).toSet
      assert(langs.subsetOf(Set("en", "zh", "de", "es", "fr")))
      // span-repeat gate held: no survivor exceeds the re-paste bound
      assert(Curation.spanRepeatStats(docs, "text", "doc_id", 8)
        .filter(col("repeat_frac") > 0.1)
        .join(ids, "doc_id").count() == 0)
    } finally out.unpersist()
  }

  test("curateForTraining with a benchmark: contaminated docs rejected") {
    import graft.operators.Curation
    // benchmark = a slice of the corpus itself ⇒ those docs (and any
    // near-verbatim copies) must not survive decontamination
    val bench = docs.filter(col("doc_id") % 11 === 0)
    val out = CorpusCuration.curateForTraining(docs, bench = Some(bench))
    val ids = out.select("doc_id")
    val contaminated = Curation.bloomDecontaminate(docs, bench, "text",
        "doc_id", n = 8, mBits = 1L << 22, kHashes = 4)
      .filter(col("contaminated")).select("doc_id")
    assert(contaminated.count() > 0) // the gate has something to do
    assert(contaminated.join(ids, "doc_id").count() == 0)
  }

  test("curateForTraining with a bigram-LM gate: low scorers rejected, " +
      "bigram_logp audit column on every kept row") {
    import graft.operators.Curation
    val scores = Curation.bigramLogProb(docs, "text", "doc_id")
    // threshold at the 20th percentile of the corpus's own scores so
    // the gate provably has work to do on any generated corpus
    val thr = scores.stat.approxQuantile("avg_logp", Array(0.2), 0.0)(0)
    val out = CorpusCuration.curateForTraining(docs,
      minBigramLogProb = Some(thr))
    assert(out.columns.contains("bigram_logp"))
    // the gate held: no survivor scores below the threshold (docs with
    // no bigrams carry a null audit score and pass this gate by design)
    assert(out.filter(col("bigram_logp") < thr).count() == 0)
    // and it actually rejected someone
    assert(scores.filter(col("avg_logp") < thr)
      .join(out.select("doc_id"), "doc_id").count() == 0)
    assert(scores.filter(col("avg_logp") < thr).count() > 0)
  }

  test("curateForTraining with a classifier gate: low-margin docs " +
      "rejected, classifier_margin audit column on every kept row") {
    import graft.operators.Classifier
    val scores = Classifier.hashedLinearScore(docs, "text", "doc_id")
    // threshold at the corpus's own 20th-percentile margin so the gate
    // provably has work to do on any generated corpus
    val thr = scores.stat.approxQuantile("margin", Array(0.2), 0.0)(0)
    val out = CorpusCuration.curateForTraining(docs,
      minClassifierMargin = Some(thr))
    assert(out.columns.contains("classifier_margin"))
    // the gate held: no survivor scores below the threshold
    // (feature-less docs carry a NULL margin and pass by design)
    assert(out.filter(col("classifier_margin") < thr).count() == 0)
    // and it actually rejected someone
    assert(scores.filter(col("margin") < thr)
      .join(out.select("doc_id"), "doc_id").count() == 0)
    assert(scores.filter(col("margin") < thr).count() > 0)
  }

  test("curateForTraining composes BOTH audit-scored gates at once") {
    val out = CorpusCuration.curateForTraining(docs,
      minBigramLogProb = Some(-1e9), minClassifierMargin = Some(-1e9))
    // thresholds below any real score: both audit columns attach, no
    // extra rejection (the two optional score joins compose)
    assert(out.columns.contains("bigram_logp"))
    assert(out.columns.contains("classifier_margin"))
    assert(out.count() > 0)
  }

  test("curateForTraining with a TRAINED gate: off-target docs " +
      "rejected, trained_margin audit column carried") {
    import graft.operators.Classifier
    // replicate the gate's own train-then-serve to find a threshold
    // with provable work: the corpus's 20th-percentile trained margin
    val model = Classifier.trainHashedLogistic(docs, "text", "doc_id",
        (col("lang") === "en").cast("int"), buckets = 64, iters = 2)
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val weights = Array.tabulate(64)(b => model.getOrElse(b, 0L))
    val scores = Classifier.hashedLinearScoreWith(docs, "text",
      "doc_id", weights, buckets = 64)
    val thr = scores.stat.approxQuantile("margin", Array(0.2), 0.0)(0)
    val out = CorpusCuration.curateForTraining(docs,
      trainedClassifier = Some(((col("lang") === "en").cast("int"), thr)))
    assert(out.columns.contains("trained_margin"))
    assert(out.filter(col("trained_margin") < thr).count() == 0)
    assert(scores.filter(col("margin") < thr)
      .join(out.select("doc_id"), "doc_id").count() == 0)
    assert(scores.filter(col("margin") < thr).count() > 0)
  }

  test("mineTopic: retrieval-then-curate returns a deduped on-topic subset " +
      "with the BM25 score as audit column") {
    val mined = CorpusCuration.mineTopic(docs, "hash join", k = 30)
    assert(mined.columns.contains("bm25_score"))
    val rows = mined.select("doc_id", "bm25_score").collect()
    assert(rows.nonEmpty && rows.length <= 30)
    assert(rows.forall(!_.isNullAt(1)))
    // the mined set is a subset of the raw top-30 retrieval
    val top = graft.operators.Retrieval
      .bm25TopK(docs, "doc_id", "text", Seq(1 -> "hash join"), 30)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).forall(top.contains))
    // curation invariants survived the composition
    val fps = mined.select(TextOps.fingerprint(col("text")).as("fp"))
    assert(fps.count() == fps.distinct().count())
    assert(mined.filter(!col("split").isin("train", "val", "test"))
      .count() == 0)
  }

  test("packByBpeMerges: bins budgeted by trained-BPE counts, " +
      "bpe_tokens audit column drives n_tokens") {
    val out = CorpusCuration.curateForTraining(docs,
      packByBpeMerges = Some(3))
    assert(out.columns.contains("bpe_tokens"))
    // the packer's n_tokens IS the BPE count, not the whitespace count
    assert(out.filter(col("n_tokens") =!= col("bpe_tokens"))
      .count() == 0)
    val ws = out.filter(
      org.apache.spark.sql.functions.size(
        TextOps.words(col("text"))).cast("long") === col("bpe_tokens"))
    // BPE-token counts genuinely differ from whitespace counts
    assert(ws.count() < out.count())
    // bin numbering still monotone per (split, lang) in doc order
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("split"), col("lang")).orderBy(col("doc_id"))
    assert(out.withColumn("prev",
        org.apache.spark.sql.functions.lag(col("bin"), 1).over(w))
      .filter(col("prev").isNotNull && col("bin") < col("prev"))
      .count() == 0)
  }
}
