package graft.sink

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Snapshot CDC ([[IndexLayout.changedKeysBetween]] /
  * [[IndexFamily.changesBetween]]): the diff of
  * two pinned snapshots' live (key, gen) maps is exact change capture
  * — every mutation class maps to the right verdict, window-internal
  * churn collapses to the NET change, no-ops vanish, and physical
  * rewrites (purge, compaction) between the pins contribute nothing.
  */
class SnapshotCdcSpec extends SparkSpec {
  import graft.operators.Retrieval

  private def changes(dir: String, a: IndexManifest,
      b: IndexManifest): Map[Long, String] =
    Retrieval.tfFamily().changesBetween(spark, dir, a, b).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("every mutation class between two pins classifies exactly: " +
      "new docs and re-crawls and delete-then-resurrect → upsert; " +
      "takedown and upsert-then-delete → delete; unchanged docs and " +
      "no-op tombstones → no row; purge/compaction change NOTHING") {
    import spark.implicits._
    val dir = tempDir("cdc").toString
    try {
      val docs = (0L until 20L).map(i => (i, s"base words doc$i body"))
        .toDF("doc_id", "text")
      Retrieval.writeTfIndex(docs, dir, wordBuckets = 8)
      // retention must cover the window's mutations (2 commits each)
      IndexManifest.setRetention(spark, dir, commits = 24)
      val a = IndexManifest.latest(spark, dir)
      // the window: one of every mutation class
      Retrieval.tfFamily().append(dir,
        Seq((20L, "brand new doc twenty"), (21L, "brand new doc21"))
          .toDF("doc_id", "text"))
      Retrieval.tfFamily().upsert(dir,
        Seq((1L, "recrawled body one")).toDF("doc_id", "text"))
      Retrieval.tfFamily().delete(dir, Seq(5L, 9L).toDF("doc_id"))
      // delete then resurrect inside the window → net upsert
      Retrieval.tfFamily().delete(dir, Seq(3L).toDF("doc_id"))
      Retrieval.tfFamily().upsert(dir,
        Seq((3L, "resurrected body three")).toDF("doc_id", "text"))
      // upsert then delete inside the window → net delete
      Retrieval.tfFamily().upsert(dir,
        Seq((7L, "doomed revision seven")).toDF("doc_id", "text"))
      Retrieval.tfFamily().delete(dir, Seq(7L).toDF("doc_id"))
      // no-op tombstone: an id that was never live
      Retrieval.tfFamily().delete(dir, Seq(999L).toDF("doc_id"))
      val b = IndexManifest.latest(spark, dir)
      val expected = Map(20L -> "upsert", 21L -> "upsert",
        1L -> "upsert", 3L -> "upsert",
        5L -> "delete", 9L -> "delete", 7L -> "delete")
      assert(changes(dir, a, b) == expected)
      // a == b diffs to nothing
      assert(changes(dir, b, b).isEmpty)
      // purge + compaction preserve every live (key, gen) pair, so
      // the diff across them is IDENTICAL — and (b, c) is empty
      Retrieval.tfFamily().purgeTombstones(spark, dir)
      Retrieval.tfFamily().compact(spark, dir)
      val c = IndexManifest.latest(spark, dir)
      assert(changes(dir, a, c) == expected,
        "physical rewrites disturbed the logical diff")
      assert(changes(dir, b, c).isEmpty)
      // misordered pins refuse loudly
      intercept[IllegalArgumentException](changes(dir, b, a))
      // an AGED-OUT pin refuses with readAt's clear error, not a raw
      // missing-file crash mid-job
      IndexManifest.setRetention(spark, dir,
        commits = IndexManifest.HistoryKeep)
      (1 to IndexManifest.HistoryKeep + 2).foreach(_ =>
        IndexLayout.reserveGen(spark, dir))
      IndexManifest.pruneHistory(spark, dir)
      val aged = intercept[IllegalStateException](changes(dir, a, c))
      assert(aged.getMessage.contains("not retained"))
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("the other families ride the same primitive: shingle (flat " +
      "docs table), fingerprint (bucketed postings — no side table), " +
      "IVF-PQ (codes stream; a RETRAIN reports the whole corpus as " +
      "upserts because every stored code really changed)") {
    import spark.implicits._
    import graft.operators.{Dedup, Similarity}
    val sh = tempDir("cdcsh").toString
    val fp = tempDir("cdcfp").toString
    val vq = tempDir("cdcvq").toString
    try {
      val docs = (0L until 8L).map(i =>
        (i, s"alpha beta gamma doc$i delta epsilon body words here"))
        .toDF("doc_id", "text")
      Dedup.writeShingleIndex(docs, sh, n = 3, shingleBuckets = 4)
      val sa = IndexManifest.latest(spark, sh)
      Dedup.shingleFamily().upsert(sh,
        Seq((2L, "totally new replacement body")).toDF("doc_id", "text"))
      Dedup.shingleFamily().delete(sh, Seq(5L).toDF("doc_id"))
      val sb = IndexManifest.latest(spark, sh)
      assert(Dedup.shingleFamily().changesBetween(spark, sh, sa, sb)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        == Map(2L -> "upsert", 5L -> "delete"))

      Dedup.writeFingerprintIndex(docs, fp, k = 10, w = 4,
        fpBuckets = 4)
      val fa = IndexManifest.latest(spark, fp)
      Dedup.fingerprintFamily().upsert(fp,
        Seq((3L, "substrings rewritten entirely anew"))
          .toDF("doc_id", "text"))
      Dedup.fingerprintFamily().delete(fp, Seq(6L).toDF("doc_id"))
      val fb = IndexManifest.latest(spark, fp)
      assert(Dedup.fingerprintFamily().changesBetween(spark, fp, fa, fb)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        == Map(3L -> "upsert", 6L -> "delete"))

      val dims = 4; val m = 2
      val vecs = (0L until 8L).map(i => (i,
        Array.tabulate(dims)(d => (i * 7 + d * 3 % 11).toFloat)))
        .toDF("vec_id", "embedding")
      Similarity.ivfPqIndex(vecs, nCells = 2, dims, m, nCentroids = 4)
        .write(vq)
      val va = IndexManifest.latest(spark, vq)
      val ivf = Similarity.ivfPqFamily()
      ivf.upsert(vq,
        Seq((1L, Array.tabulate(dims)(d => -(d + 1).toFloat)))
          .toDF("vec_id", "embedding"))
      ivf.delete(vq, Seq(4L).toDF("vec_id"))
      val vb = IndexManifest.latest(spark, vq)
      assert(ivf.changesBetween(spark, vq, va, vb)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        == Map(1L -> "upsert", 4L -> "delete"))
      // retrain: every stored code changes → everything upserts (and
      // the takedown stays dead: the retrain corpus is the LIVE set)
      val liveVecs = vecs.where(col("vec_id") =!= 4L &&
        col("vec_id") =!= 1L)
        .union(Seq((1L, Array.tabulate(dims)(d => -(d + 1).toFloat)))
          .toDF("vec_id", "embedding"))
      Similarity.retrainIvfPqIndex(spark, vq, liveVecs, nCells = 2,
        dims = dims, m = m, nCentroids = 4)
      val vc = IndexManifest.latest(spark, vq)
      val afterRetrain = ivf.changesBetween(spark, vq,
        vb, vc).collect().map(r => r.getLong(0) -> r.getString(1))
        .toMap
      assert(afterRetrain ==
        liveVecs.select("vec_id").collect().map(_.getLong(0))
          .map(_ -> "upsert").toMap)
    } finally Seq(sh, fp, vq).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("the incremental-pull loop: each cycle's delta applied to a " +
      "mirror reproduces the index's live doc set exactly") {
    import spark.implicits._
    val dir = tempDir("cdcloop").toString
    try {
      Retrieval.writeTfIndex(
        (0L until 10L).map(i => (i, s"seed doc$i words"))
          .toDF("doc_id", "text"), dir, wordBuckets = 8)
      IndexManifest.setRetention(spark, dir, commits = 32)
      var mirror = (0L until 10L).toSet // downstream's copy after pin
      var last = IndexManifest.latest(spark, dir)
      val cycles = Seq(
        Seq("add" -> Seq(10L, 11L), "del" -> Seq(2L)),
        Seq("add" -> Seq(12L), "del" -> Seq(10L, 4L)),
        Seq("add" -> Seq(2L), "del" -> Seq(11L)))
      cycles.foreach { muts =>
        muts.foreach {
          case ("add", ids) => Retrieval.tfFamily().upsert(dir,
            ids.map(i => (i, s"cycle body $i")).toDF("doc_id", "text"))
          case (_, ids) =>
            Retrieval.tfFamily().delete(dir, ids.toDF("doc_id"))
        }
        val now = IndexManifest.latest(spark, dir)
        changes(dir, last, now).foreach {
          case (id, "upsert") => mirror += id
          case (id, _) => mirror -= id
        }
        last = now
        // ground truth: the live doc set served by the index
        val live = graft.sink.IndexLayout.liveKeyGens(spark, dir,
          "doc_id", "docs", now)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(mirror == live, s"mirror drifted: $mirror vs $live")
      }
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }
}
