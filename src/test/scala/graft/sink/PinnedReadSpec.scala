package graft.sink

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Snapshot pinning / time travel over the manifest history the GC
  * grace window already retains ([[IndexManifest.readAt]] /
  * [[IndexManifest.latest]] + the `pinned` parameter of the query entry
  * points): a report pinned at sequence N keeps answering
  * bit-identically to the pre-mutation state while the crawler keeps
  * upserting, deleting, purging and compacting — until the snapshot
  * ages out of the [[IndexManifest.HistoryKeep]] window, at which
  * point [[IndexManifest.readAt]] refuses LOUDLY instead of answering
  * wrong. The visibility watermark is what makes this exact for
  * MUTATIONS too, not just rewrites: later facts and tombstones are
  * appended into the very dirs the pinned snapshot points at, but
  * they carry generations above the pinned `visibleGen` and are
  * filtered before anything aggregates. */
class PinnedReadSpec extends SparkSpec {
  import graft.operators.{Dedup, Retrieval, Similarity}

  private def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(_.toSeq).toSeq

  test("pinned TF-index reads are bit-stable across upsert + delete " +
      "+ purge + compaction; the LATEST read moves on; past the " +
      "retention window readAt refuses with a clear error") {
    import spark.implicits._
    val dir = tempDir("pin").toString
    val queries = Seq(1 -> "needle common", 2 -> "revised fresh")
    try {
      val docs = (0L until 20L).map(i => (i,
        s"common words doc$i " + (if (i % 4 == 1) "needle" else "hay")))
        .toDF("doc_id", "text")
      Retrieval.writeTfIndex(docs, dir, wordBuckets = 8)
      val snap = IndexManifest.latest(spark, dir)
      val expected = canon(Retrieval.bm25TopKFromTfIndex(
        spark, dir, queries, 10))
      // the crawler keeps going: re-crawl, takedown, physical purge,
      // compaction — every mutation class the layout supports
      Retrieval.tfFamily().upsert(dir,
        Seq((1L, "needle revised fresh text")).toDF("doc_id", "text"))
      Retrieval.tfFamily().delete(dir,
        Seq(5L, 9L).toDF("doc_id"))
      val pinnedMid = canon(Retrieval.bm25TopKFromTfIndex(spark, dir,
        queries, 10,
        pinned = Some(IndexManifest.readAt(spark, dir, snap.seq))))
      assert(pinnedMid == expected,
        "pinned read drifted under live mutations")
      Retrieval.tfFamily().purgeTombstones(spark, dir)
      Retrieval.tfFamily().compact(spark, dir)
      val pinnedLate = canon(Retrieval.bm25TopKFromTfIndex(spark, dir,
        queries, 10,
        pinned = Some(IndexManifest.readAt(spark, dir, snap.seq))))
      assert(pinnedLate == expected,
        "pinned read drifted under purge/compaction")
      // the latest read reflects the mutations (pinning ≠ inertness)
      val latest = canon(Retrieval.bm25TopKFromTfIndex(
        spark, dir, queries, 10))
      assert(latest != expected)
      assert(Retrieval.bm25TopKFromTfIndex(spark, dir,
        Seq(1 -> "revised"), 10, pinned = Some(
          IndexManifest.readAt(spark, dir, snap.seq))).count() == 0)
      // age the snapshot out of the retention window
      (1 to IndexManifest.HistoryKeep + 2).foreach { _ =>
        IndexLayout.reserveGen(spark, dir)
      }
      IndexManifest.pruneHistory(spark, dir)
      val e = intercept[IllegalStateException](
        IndexManifest.readAt(spark, dir, snap.seq))
      assert(e.getMessage.contains("aged out") ||
        e.getMessage.contains("not retained"))
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("raised retention lengthens pin lifetime: with retention N " +
      "commits a pin survives every interleaved mutation sequence " +
      "totalling < N commits — here 8 upserts + a delete + a purge + " +
      "a compaction — the listing stays O(N), and lowering retention " +
      "ages the pin out loudly") {
    import spark.implicits._
    val dir = tempDir("pinret").toString
    val queries = Seq(1 -> "needle common")
    def mFiles() = new java.io.File(s"$dir/_manifest").listFiles()
      .count(_.getName.matches("m-\\d{20}"))
    try {
      val docs = (0L until 20L).map(i => (i,
        s"common words doc$i " + (if (i % 4 == 1) "needle" else "hay")))
        .toDF("doc_id", "text")
      Retrieval.writeTfIndex(docs, dir, wordBuckets = 8)
      // the multi-query-report shape: raise retention BEFORE pinning
      // (a mutation costs 2 commits, so 8 upserts + delete + purge +
      // compaction + housekeeping ≈ 21 commits — inside 24, far
      // outside the default 8)
      IndexManifest.setRetention(spark, dir, commits = 24)
      val snap = IndexManifest.latest(spark, dir)
      val expected = canon(Retrieval.bm25TopKFromTfIndex(
        spark, dir, queries, 10))
      (0 until 8).foreach { i =>
        Retrieval.tfFamily().upsert(dir,
          Seq((i.toLong, s"recrawled body number $i fresh"))
            .toDF("doc_id", "text"))
      }
      Retrieval.tfFamily().delete(dir, Seq(13L).toDF("doc_id"))
      Retrieval.tfFamily().purgeTombstones(spark, dir)
      Retrieval.tfFamily().compact(spark, dir) // runs pruneHistory too
      assert(canon(Retrieval.bm25TopKFromTfIndex(spark, dir, queries,
        10, pinned = Some(IndexManifest.readAt(spark, dir, snap.seq))))
        == expected, "pin died inside its raised retention window")
      assert(mFiles() <= 24, s"listing grew past retention: ${mFiles()}")
      // the storm really did outrun the DEFAULT window
      assert(IndexManifest.read(spark, dir).get.seq - snap.seq >
        IndexManifest.HistoryKeep)
      // lowering retention ages the pin out — loudly, not wrongly
      IndexManifest.setRetention(spark, dir,
        commits = IndexManifest.HistoryKeep)
      IndexManifest.pruneHistory(spark, dir)
      val e = intercept[IllegalStateException](
        IndexManifest.readAt(spark, dir, snap.seq))
      assert(e.getMessage.contains("not retained"))
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("retention sized to the STREAMING cadence: a micro-batch " +
      "burns 4 commits, so a pin under retention 40 survives 6 " +
      "streamed micro-batches + pruning where the default window " +
      "would have aged it out") {
    import spark.implicits._
    val dir = tempDir("pinstream")
      .toString
    val queries = Seq(1 -> "needle common")
    try {
      val docs = (0L until 12L).map(i => (i,
        s"common words doc$i " + (if (i % 3 == 1) "needle" else "hay")))
      Retrieval.writeTfIndex(docs.toDF("doc_id", "text"), dir,
        wordBuckets = 8)
      IndexManifest.setRetention(spark, dir, commits = 40)
      val snap = IndexManifest.latest(spark, dir)
      val expected = canon(Retrieval.bm25TopKFromTfIndex(
        spark, dir, queries, 10))
      (0 until 6).foreach { e =>
        val b = Seq((100L + e, s"streamed doc number $e needle"))
          .toDF("doc_id", "text")
        assert(Retrieval.tfFamily().ingestBatch(dir, b, e.toLong))
      }
      IndexManifest.pruneHistory(spark, dir)
      // 6 micro-batches × 4 commits = 24 subsequent commits — past
      // the default window, inside the raised one
      val drift = IndexManifest.read(spark, dir).get.seq - snap.seq
      assert(drift > IndexManifest.HistoryKeep && drift <= 39,
        s"commit drift $drift outside the designed window")
      assert(canon(Retrieval.bm25TopKFromTfIndex(spark, dir, queries,
        10, pinned = Some(IndexManifest.readAt(spark, dir, snap.seq))))
        == expected, "pin died under the streaming cadence")
      // and the stream really landed for live readers
      assert(canon(Retrieval.bm25TopKFromTfIndex(
        spark, dir, queries, 10)) != expected)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("pinned shingle-index pair queries and pinned IVF-PQ reads " +
      "resolve every subtree from the caller-held snapshot") {
    import spark.implicits._
    val sdir = tempDir("pinsh").toString
    val vdir = tempDir("pinvq").toString
    try {
      // shingle family: near-dup pairs pinned across an upsert that
      // would otherwise break the pair
      val docs = Seq(
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "alpha beta gamma delta epsilon eta"),
        (3L, "totally different content here now"))
        .toDF("doc_id", "text")
      Dedup.writeShingleIndex(docs, sdir, n = 3, shingleBuckets = 4)
      val snap = IndexManifest.latest(spark, sdir)
      val ids = docs.select(col("doc_id"))
      val before = canon(Dedup.jaccardPairsAgainstIndex(spark, sdir,
        0.3, ids).orderBy(col("da"), col("db")))
      assert(before.nonEmpty)
      Dedup.shingleFamily().upsert(sdir,
        Seq((2L, "unrelated replacement text body words"))
          .toDF("doc_id", "text"))
      val pinnedPairs = canon(Dedup.jaccardPairsAgainstIndex(spark,
        sdir, 0.3, ids,
        pinned = Some(IndexManifest.readAt(spark, sdir, snap.seq)))
        .orderBy(col("da"), col("db")))
      assert(pinnedPairs == before, "pinned pair set drifted")
      assert(canon(Dedup.jaccardPairsAgainstIndex(spark, sdir, 0.3,
        ids).orderBy(col("da"), col("db"))) != before)

      // fingerprint family: pinned substring candidates survive a
      // later upsert that rewrites the shared substring away
      val fdir = tempDir("pinfp").toString
      try {
        val fdocs = Seq(
          (1L, "the quick brown fox jumps over the lazy dog today"),
          (2L, "the quick brown fox jumps over the lazy dog tonight"))
          .toDF("doc_id", "text")
        Dedup.writeFingerprintIndex(fdocs, fdir, k = 10, w = 4,
          fpBuckets = 4)
        val fsnap = IndexManifest.latest(spark, fdir)
        val fIds = Seq(1L, 2L).toDF("doc_id")
        val fBefore = canon(Dedup.substringCandidatesAgainstIndex(
          spark, fdir, 1, fIds).orderBy(col("da"), col("db")))
        assert(fBefore.nonEmpty)
        Dedup.fingerprintFamily().upsert(fdir,
          Seq((2L, "zz completely different body with nothing shared"))
            .toDF("doc_id", "text"))
        assert(canon(Dedup.substringCandidatesAgainstIndex(spark,
          fdir, 1, fIds,
          pinned = Some(IndexManifest.readAt(spark, fdir, fsnap.seq)))
          .orderBy(col("da"), col("db"))) == fBefore,
          "pinned fingerprint candidates drifted")
        assert(canon(Dedup.substringCandidatesAgainstIndex(spark,
          fdir, 1, fIds).orderBy(col("da"), col("db"))) != fBefore)
      } finally org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(fdir))

      // ANN family: a pinned read serves the pre-takedown code stream
      val vecs = (0L until 16L).map(i => (i,
        Array.tabulate(4)(d => (i * 7 + d * 3 % 11).toFloat)))
        .toDF("vec_id", "embedding")
      Similarity.ivfPqIndex(vecs, nCells = 2, dims = 4, m = 2,
        nCentroids = 4).write(vdir)
      val vsnap = IndexManifest.latest(spark, vdir)
      val nBefore = Similarity.IvfPqIndex.read(spark, vdir)
        .codes.select(col("id")).distinct().count()
      Similarity.ivfPqFamily().delete(vdir,
        Seq(3L, 4L).toDF("vec_id"))
      val pinnedIdx = Similarity.IvfPqIndex.read(spark, vdir,
        pinned = Some(IndexManifest.readAt(spark, vdir, vsnap.seq)))
      assert(pinnedIdx.codes.select(col("id")).distinct().count()
        == nBefore, "pinned ANN read saw the later takedown")
      assert(Similarity.IvfPqIndex.read(spark, vdir)
        .codes.select(col("id")).distinct().count() == nBefore - 2)
    } finally {
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(sdir))
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(vdir))
    }
  }
}
