package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  // dl: 3, 2, 4; N = 3; avgdl = 3
  private def corpus = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "cherry cherry cherry cherry")).toDF("doc_id", "text")

  private def bm25Term(tf: Long, df: Long, dl: Long,
      n: Long = 3, avgdl: Double = 3.0,
      k1: Double = 1.2, b: Double = 0.75): Double = {
    val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    val raw = idf * (tf * (k1 + 1.0)) / (tf + k1 * (1 - b + b * dl / avgdl))
    BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("bm25: single-term query hits exactly the posting list, hand-checked score") {
    val out = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq(1 -> "apple"), k = 10).collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L))
    val score = out.head.getDouble(2)
    assert(score == bm25Term(tf = 2, df = 1, dl = 3))
  }

  test("bm25: terms absent from the corpus contribute nothing") {
    val base = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq(1 -> "banana"), k = 10).select("doc_id", "score").collect()
    val withGhost = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq(1 -> "banana zzzghost"), k = 10)
      .select("doc_id", "score").collect()
    assert(base.map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      withGhost.map(r => (r.getLong(0), r.getDouble(1))).toSet)
  }

  test("bm25: multi-term score is the sum of per-term contributions") {
    val out = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq(1 -> "apple banana"), k = 10)
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 1: apple(tf2,df1,dl3) + banana(tf1,df2,dl3)
    val exp1 = BigDecimal(bm25Term(2, 1, 3)) + BigDecimal(bm25Term(1, 2, 3))
    assert(out(1L) == exp1.toDouble)
    // doc 2: banana(tf1,df2,dl2)
    assert(out(2L) == bm25Term(1, 2, 2))
    assert(!out.contains(3L))
  }

  test("bm25: length normalization ranks the shorter doc first at equal tf") {
    // both docs contain 'cherry' once... use banana: doc1 dl3 tf1, doc2 dl2 tf1
    val out = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq(7 -> "banana"), k = 10).collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 1L)) // dl 2 beats dl 3
    assert(out.map(_.getLong(3)).toSeq == Seq(1L, 2L)) // ranks 1, 2
  }

  test("bm25: k truncates per query, queries stay independent") {
    val out = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq(1 -> "cherry", 2 -> "banana cherry apple"), k = 1).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ(1L).length == 1 && byQ(2L).length == 1)
    // cherry: doc3 tf4 dominates despite dl4
    assert(byQ(1L).head.getLong(1) == 3L)
  }

  test("bm25: duplicate query terms count once (distinct-term semantics)") {
    val once = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq(1 -> "apple"), k = 10).select("score").as[Double].collect()
    val twice = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq(1 -> "apple apple"), k = 10).select("score").as[Double].collect()
    assert(once.toSeq == twice.toSeq)
  }

  test("bm25TopKFrame == bm25TopK on the same queries; excludeSelf " +
      "drops the query doc before ranking") {
    val lit = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq(7 -> "banana cherry"), k = 10).collect().toSeq
    val frame = Retrieval.bm25TopKFrame(corpus, "doc_id", "text",
      Seq((7L, "banana cherry")).toDF("query_id", "qtext"), k = 10)
      .collect().toSeq
    assert(lit == frame)
    // doc 2's own text as query: with excludeSelf, doc 2 disappears
    // and the remaining docs re-rank from 1
    val self = Retrieval.bm25TopKFrame(corpus, "doc_id", "text",
      Seq((2L, "banana cherry")).toDF("query_id", "qtext"), k = 10,
      excludeSelf = true).collect()
    assert(!self.exists(_.getLong(1) == 2L))
    assert(self.map(_.getLong(3)).min == 1L)
  }

  private def canonTopK(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq

  test("bm25TopKPruned ≡ bm25TopK across k on a mixed-selectivity " +
      "corpus (rare + common terms — the max-score sweet spot)") {
    // 40 docs: every doc has common filler words; docs 0-3 carry the
    // rare term 'needle'; doc lengths vary so scores spread
    val docs = (0L until 40L).map { i =>
      val filler = Seq.fill((i % 4).toInt + 1)("common words here")
        .mkString(" ")
      val rare = if (i < 4) " needle" else ""
      val extra = if (i % 3 == 0) " sometimes" else ""
      (i, s"$filler$rare$extra")
    }.toDF("doc_id", "text")
    val queries = Seq(1 -> "needle common", 2 -> "sometimes words",
      3 -> "needle sometimes common here")
    for (k <- Seq(1, 3, 10)) {
      val exhaustive = canonTopK(
        Retrieval.bm25TopK(docs, "doc_id", "text", queries, k))
      val pruned = canonTopK(
        Retrieval.bm25TopKPruned(docs, "doc_id", "text", queries, k))
      assert(pruned == exhaustive, s"k=$k: $pruned vs $exhaustive")
    }
  }

  test("TF index: build on a subset, APPEND the rest, query ≡ bm25TopK " +
      "over the full corpus bit-identically (idf/avgdl recomputed at " +
      "read time — the freshness contract the impact index can't give)") {
    val docs = (0L until 40L).map { i =>
      val filler = Seq.fill((i % 4).toInt + 1)("common words here")
        .mkString(" ")
      val rare = if (i < 4) " needle" else ""
      (i, s"$filler$rare")
    }.toDF("doc_id", "text")
    val queries = Seq(1 -> "needle common", 2 -> "words here needle",
      3 -> "zzzabsent common")
    val dir = tempDir("graft_tfidx").toString
    try {
      Retrieval.writeTfIndex(
        docs.where(col("doc_id") % 3 =!= 2), dir, wordBuckets = 8)
      Retrieval.tfFamily().append(dir,
        docs.where(col("doc_id") % 3 === 2))
      for (k <- Seq(1, 5, 10)) {
        val full = canonTopK(
          Retrieval.bm25TopK(docs, "doc_id", "text", queries, k))
        val indexed = canonTopK(
          Retrieval.bm25TopKFromTfIndex(spark, dir, queries, k))
        assert(indexed == full, s"k=$k: $indexed vs $full")
      }
      // a second increment keeps the equivalence (stats shift again)
      val more = Seq((100L, "needle needle brand new common"))
        .toDF("doc_id", "text")
      Retrieval.tfFamily().append(dir, more)
      val full2 = canonTopK(Retrieval.bm25TopK(
        docs.unionAll(more), "doc_id", "text", queries, 5))
      val idx2 = canonTopK(
        Retrieval.bm25TopKFromTfIndex(spark, dir, queries, 5))
      assert(idx2 == full2, s"post-2nd-append: $idx2 vs $full2")
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  private def tfIdxDocs = (0L until 40L).map { i =>
    val filler = Seq.fill((i % 4).toInt + 1)("common words here")
      .mkString(" ")
    val rare = if (i < 4) " needle" else ""
    (i, s"$filler$rare")
  }.toDF("doc_id", "text")

  test("TF index DELETE: query-after-tombstone ≡ rebuild without the " +
      "deleted docs; purge ≡ logical; delete∘append commutes") {
    val docs = tfIdxDocs
    val queries = Seq(1 -> "needle common", 2 -> "words here needle")
    val dir = tempDir("graft_tfdel").toString
    try {
      Retrieval.writeTfIndex(docs, dir, wordBuckets = 8)
      Retrieval.tfFamily().delete(dir,
        docs.where(col("doc_id") % 4 === 1).select(col("doc_id")))
      val truth = canonTopK(Retrieval.bm25TopK(
        docs.where(col("doc_id") % 4 =!= 1), "doc_id", "text",
        queries, 10))
      assert(canonTopK(
        Retrieval.bm25TopKFromTfIndex(spark, dir, queries, 10)) == truth)
      // append AFTER delete: both mutations visible, stats correct
      val more = Seq((100L, "needle common brand new"))
        .toDF("doc_id", "text")
      Retrieval.tfFamily().append(dir, more)
      val truth2 = canonTopK(Retrieval.bm25TopK(
        docs.where(col("doc_id") % 4 =!= 1).unionAll(more),
        "doc_id", "text", queries, 10))
      assert(canonTopK(
        Retrieval.bm25TopKFromTfIndex(spark, dir, queries, 10)) == truth2)
      // the commuted order (append then delete) on a fresh index
      // reaches the same state
      val dir2 = tempDir("graft_tfdel2").toString
      try {
        Retrieval.writeTfIndex(docs, dir2, wordBuckets = 8)
        Retrieval.tfFamily().append(dir2, more)
        Retrieval.tfFamily().delete(dir2,
          docs.where(col("doc_id") % 4 === 1).select(col("doc_id")))
        assert(canonTopK(Retrieval.bm25TopKFromTfIndex(
          spark, dir2, queries, 10)) == truth2)
      } finally org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir2))
      // physical purge: same answers, tombstones gone, postings thinner
      val beforeRows = idxDf(dir, "postings").count()
      Retrieval.tfFamily().purgeTombstones(spark, dir)
      assert(!idxDirExists(dir, "tombstones"))
      assert(idxDf(dir, "postings").count() < beforeRows)
      assert(canonTopK(
        Retrieval.bm25TopKFromTfIndex(spark, dir, queries, 10)) == truth2)
      // deleting an APPENDED doc works too (takedown of fresh ingest)
      Retrieval.tfFamily().delete(dir,
        Seq(100L).toDF("doc_id"))
      assert(canonTopK(
        Retrieval.bm25TopKFromTfIndex(spark, dir, queries, 10)) == truth)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("TF index UPSERT: re-crawled docs replace their stale facts in " +
      "one call — ≡ rebuild with mutated text; upsert-twice ≡ once; " +
      "new-id upsert ≡ append; upsert after delete resurrects; " +
      "purge ≡ logical") {
    val docs = tfIdxDocs
    val queries = Seq(1 -> "needle common", 2 -> "words here updated")
    val mutated = docs.withColumn("text",
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" updated revision")))
        .otherwise(col("text")))
    val dir = tempDir("graft_tfup").toString
    try {
      Retrieval.writeTfIndex(docs, dir, wordBuckets = 8)
      val crawl = mutated.where(col("doc_id") % 5 === 0)
      Retrieval.tfFamily().upsert(dir, crawl)
      val truth = canonTopK(Retrieval.bm25TopK(
        mutated, "doc_id", "text", queries, 10))
      assert(canonTopK(
        Retrieval.bm25TopKFromTfIndex(spark, dir, queries, 10)) == truth)
      // idempotence: the same crawl delivered twice changes nothing
      Retrieval.tfFamily().upsert(dir, crawl)
      assert(canonTopK(
        Retrieval.bm25TopKFromTfIndex(spark, dir, queries, 10)) == truth)
      // an upsert of ids NEW to the index is a plain append
      val fresh = Seq((200L, "needle updated brand new"))
        .toDF("doc_id", "text")
      Retrieval.tfFamily().upsert(dir, fresh)
      val truth2 = canonTopK(Retrieval.bm25TopK(
        mutated.unionAll(fresh), "doc_id", "text", queries, 10))
      assert(canonTopK(
        Retrieval.bm25TopKFromTfIndex(spark, dir, queries, 10)) == truth2)
      // upsert AFTER a delete resurrects the doc with its new text
      Retrieval.tfFamily().delete(dir, Seq(200L).toDF("doc_id"))
      Retrieval.tfFamily().upsert(dir, fresh)
      assert(canonTopK(
        Retrieval.bm25TopKFromTfIndex(spark, dir, queries, 10)) == truth2)
      // physical purge drops the dead generations, answers unchanged
      val beforeRows = idxDf(dir, "postings").count()
      Retrieval.tfFamily().purgeTombstones(spark, dir)
      assert(!idxDirExists(dir, "tombstones"))
      assert(idxDf(dir, "postings").count() < beforeRows)
      assert(canonTopK(
        Retrieval.bm25TopKFromTfIndex(spark, dir, queries, 10)) == truth2)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("TF index: COMPACTION with LIVE tombstones preserves the kill " +
      "floor (dead generations survive the rewrite untouched; the " +
      "later purge still removes exactly them)") {
    val docs = tfIdxDocs
    val queries = Seq(1 -> "needle common", 2 -> "words here updated")
    val dir = tempDir("graft_tfupcomp").toString
    try {
      Retrieval.writeTfIndex(docs, dir, wordBuckets = 8)
      val crawl = docs.where(col("doc_id") % 5 === 0)
        .withColumn("text",
          concat(col("text"), lit(" updated revision")))
      Retrieval.tfFamily().upsert(dir, crawl)
      def run() = canonTopK(
        Retrieval.bm25TopKFromTfIndex(spark, dir, queries, 10))
      val expected = run()
      // compact while the upsert's tombstones are still live:
      // compaction rewrites FILES, never rows — the dead generations
      // stay physically present and logically dead
      val (before, after) = Retrieval.tfFamily().compact(spark, dir)
      assert(after < before)
      assert(idxDirExists(dir, "tombstones"))
      assert(run() == expected)
      // the purge afterwards still drops exactly the dead generations
      val rows = idxDf(dir, "postings").count()
      Retrieval.tfFamily().purgeTombstones(spark, dir)
      assert(idxDf(dir, "postings").count() < rows)
      assert(run() == expected)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("TF index COMPACTION: file count shrinks after two appends, " +
      "query results bit-identical through the rewrite") {
    val docs = tfIdxDocs
    val queries = Seq(1 -> "needle common", 2 -> "words here")
    val dir = tempDir("graft_tfcompact").toString
    def parquetFiles(): Int = {
      def walk(f: java.io.File): Int = {
        val kids = Option(f.listFiles()).getOrElse(Array.empty)
        kids.count(k => k.isFile &&
          k.getName.endsWith(".parquet")) + kids.filter(_.isDirectory)
          .map(walk).sum
      }
      walk(new java.io.File(dir))
    }
    try {
      Retrieval.writeTfIndex(
        docs.where(col("doc_id") % 3 === 0), dir, wordBuckets = 8)
      Retrieval.tfFamily().append(dir, docs.where(col("doc_id") % 3 === 1))
      Retrieval.tfFamily().append(dir, docs.where(col("doc_id") % 3 === 2))
      val truth = canonTopK(
        Retrieval.bm25TopKFromTfIndex(spark, dir, queries, 10))
      val filesBefore = parquetFiles()
      val (b, a) = Retrieval.tfFamily().compact(spark, dir)
      assert(b > a, s"compaction did not shrink: $b -> $a")
      // grace GC keeps the pre-compaction trees for stale readers;
      // the DISK claim holds after the post-grace full sweep
      graft.sink.IndexLayout.gcUnreferenced(spark, dir,
        graft.sink.IndexManifest.read(spark, dir).get)
      assert(parquetFiles() < filesBefore)
      assert(canonTopK(
        Retrieval.bm25TopKFromTfIndex(spark, dir, queries, 10)) == truth)
      // and ≡ the never-appended full build (bit-identity end to end)
      assert(truth == canonTopK(
        Retrieval.bm25TopK(docs, "doc_id", "text", queries, 10)))
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("bm25TopKPruned ≡ bm25TopK on an ALL-TIES corpus (identical " +
      "docs — doc_id tiebreak must survive pruning bit-identically)") {
    val docs = (0L until 20L).map(i => (i, "same words every doc"))
      .toDF("doc_id", "text")
    val queries = Seq(1 -> "same words", 2 -> "every")
    for (k <- Seq(1, 5)) {
      val exhaustive = canonTopK(
        Retrieval.bm25TopK(docs, "doc_id", "text", queries, k))
      val pruned = canonTopK(
        Retrieval.bm25TopKPruned(docs, "doc_id", "text", queries, k))
      assert(pruned == exhaustive, s"k=$k: $pruned vs $exhaustive")
      // ties resolve by ascending doc_id in both
      assert(exhaustive.filter(_._1 == 1L).map(_._2) ==
        (0L until k.toLong).toSeq)
    }
  }

  test("bm25TopKFramePruned ≡ bm25TopKFrame incl. excludeSelf") {
    val docs = (0L until 30L).map { i =>
      val rare = if (i % 10 == 0) " scarce" else ""
      (i, s"shared vocabulary tokens$rare doc")
    }.toDF("doc_id", "text")
    val qdf = docs.where(col("doc_id") % 15 === 0)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    val exhaustive = canonTopK(Retrieval.bm25TopKFrame(
      docs, "doc_id", "text", qdf, k = 5, excludeSelf = true))
    val pruned = canonTopK(Retrieval.bm25TopKFramePruned(
      docs, "doc_id", "text", qdf, k = 5, excludeSelf = true))
    assert(pruned == exhaustive, s"$pruned vs $exhaustive")
    assert(exhaustive.nonEmpty &&
      !exhaustive.exists(t => t._1 == t._2)) // self really excluded
  }

  test("survivorDocs actually prunes on selective queries and keeps " +
      "every true top-k doc") {
    import graft.SparkSpec
    // rare term in 3 docs, common terms everywhere: with k=3 the
    // threshold comes from rare-term docs and the common terms'
    // suffix sum falls below it → survivors ≪ matched docs
    val docs = (0L until 100L).map { i =>
      val rare = if (i < 3) " unicorn" else ""
      (i, s"plain everyday filler words$rare")
    }.toDF("doc_id", "text")
    val spark2 = docs.sparkSession
    val qt = spark2.createDataFrame(Seq((1L, "unicorn"), (1L, "plain"),
      (1L, "filler"))).toDF("query_id", "word")
    val contribs = Retrieval.bm25Contribs(docs, "doc_id", "text", qt,
      1.2, 0.75, None).persist()
    val survivors = Retrieval.survivorDocs(contribs, k = 3)
    val nSurv = survivors.count()
    val nMatched = contribs.select("query_id", "doc_id")
      .distinct().count()
    assert(nSurv < nMatched / 2,
      s"no pruning: $nSurv survivors of $nMatched matched")
    // and the exhaustive top-3 docs are all survivors
    val top = Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq(1 -> "unicorn plain filler"), k = 3)
      .select(col("query_id"), col("doc_id"))
    assert(top.join(survivors, Seq("query_id", "doc_id"), "left_anti")
      .count() == 0)
    contribs.unpersist()
  }

  test("bm25 index family: indexed / on-disk / pruned paths are all " +
      "bit-identical to the ad-hoc exhaustive ranking, and the on-disk " +
      "read is partition-pruned to the query words' buckets") {
    val docs = (0L until 60L).map { i =>
      val rare = if (i < 4) " needle" else ""
      val mid = if (i % 5 == 0) " sometimes" else ""
      (i, s"common words here doc$rare$mid")
    }.toDF("doc_id", "text")
    val queries = Seq(1 -> "needle common", 2 -> "sometimes here",
      3 -> "needle sometimes words", 4 -> "zzzghost only")
    val k = 5
    val adhoc = canonTopK(
      Retrieval.bm25TopK(docs, "doc_id", "text", queries, k))
    val index = Retrieval.bm25Index(docs, "doc_id", "text")
      .localCheckpoint()
    assert(canonTopK(Retrieval.bm25TopKIndexed(index, queries, k))
      == adhoc)
    assert(canonTopK(Retrieval.bm25TopKPrunedIndexed(index, queries, k))
      == adhoc)
    val dir = tempDir("bm25idx").toString
    try {
      Retrieval.writeBm25Index(index, dir, wordBuckets = 8)
      assert(canonTopK(
        Retrieval.bm25TopKFromIndex(spark, dir, queries, k)) == adhoc)
      assert(canonTopK(
        Retrieval.bm25TopKPrunedFromIndex(spark, dir, queries, k))
        == adhoc)
      // partition pruning evidence: the postings scan in the FromIndex
      // plan carries literal wbucket partition filters
      val plan = Retrieval.bm25TopKFromIndex(spark, dir, queries, k)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.contains("wbucket"), plan.take(2000))
      // a query batch over NO existing term returns empty, not a crash
      assert(Retrieval.bm25TopKFromIndex(spark, dir,
        Seq(9 -> "zzzghost"), k).count() == 0)
      assert(Retrieval.bm25TopKPrunedFromIndex(spark, dir,
        Seq(9 -> "zzzghost"), k).count() == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(dir))
    }
  }

  test("rrfHybrid: fused score sums both arms' reciprocal ranks; " +
      "single-arm docs get one term") {
    // embeddings: doc 1's nearest is doc 2 (identical direction),
    // doc 3 orthogonal
    val embs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Retrieval.rrfHybrid(corpus, "doc_id", "text", embs,
        queryIds = Seq(1L), armK = 2, k = 10)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    // sparse arm for doc-1 text "apple banana apple": doc 2 matches
    // (banana), doc 3 doesn't → r_sparse(2) = 1.
    // dense arm: sim(1,2)=1 > sim(1,3)=0 → r_dense(2)=1, r_dense(3)=2.
    val r61x2 = BigDecimal(1.0 / 61 + 1.0 / 61).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val r62 = BigDecimal(1.0 / 62).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(2L) == r61x2) // both arms at rank 1
    assert(out(3L) == r62)   // dense-only at rank 2
    assert(!out.contains(1L)) // self excluded from both arms
  }
}
