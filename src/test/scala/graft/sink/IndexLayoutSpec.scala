package graft.sink

import graft.SparkSpec

/** The shared generation plumbing's own edges — the per-family specs
  * (RetrievalSpec/DedupSpec/SimilaritySpec) pin the lifecycle laws;
  * this pins the layout mechanics.
  */
class IndexLayoutSpec extends SparkSpec {

  test("empty-id tombstone append is a no-op (a zero-row dynamic " +
      "write would leave an unreadable tombstones dir)") {
    import spark.implicits._
    val dir = tempDir("idxlay").toString
    try {
      graft.operators.Retrieval.writeTfIndex(
        Seq((1L, "some common words"), (2L, "needle common"))
          .toDF("doc_id", "text"), dir, wordBuckets = 4)
      // a takedown batch that matched nothing — routine in production
      graft.operators.Retrieval.tfFamily().delete(dir,
        Seq.empty[Long].toDF("doc_id"))
      assert(!idxDirExists(dir, "tombstones"))
      // reads keep working and see everything
      val got = graft.operators.Retrieval.bm25TopKFromTfIndex(
        spark, dir, Seq(1 -> "needle common"), 10)
      assert(got.count() == 2)
      // an empty UPSERT is likewise inert
      graft.operators.Retrieval.tfFamily().upsert(dir,
        Seq.empty[(Long, String)].toDF("doc_id", "text"))
      assert(graft.operators.Retrieval.bm25TopKFromTfIndex(
        spark, dir, Seq(1 -> "needle common"), 10).count() == 2)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("generation counter: manifest-backed, monotone across " +
      "mutations, preserved through compaction, history pruned") {
    import spark.implicits._
    val dir = tempDir("genlog").toString
    def manifestFiles(): Int =
      Option(new java.io.File(s"$dir/_manifest").listFiles())
        .getOrElse(Array.empty)
        .count(_.getName.startsWith("m-"))
    try {
      graft.operators.Retrieval.writeTfIndex(
        Seq((1L, "common words here")).toDF("doc_id", "text"),
        dir, wordBuckets = 4)
      assert(idxGen(dir) == 0L) // fresh build
      for (i <- 2L to 16L)
        graft.operators.Retrieval.tfFamily().append(dir,
          Seq((i, s"doc $i common")).toDF("doc_id", "text"))
      assert(idxGen(dir) == 15L)
      // the build's one commit, then two per mutation: the generation
      // RESERVE before the facts and the visibility PUBLISH after them
      // (reader-atomicity)
      assert(manifestFiles() == 31)
      graft.operators.Retrieval.tfFamily().compact(spark, dir)
      // compaction prunes the manifest history to its tail...
      assert(manifestFiles() <= IndexManifest.HistoryKeep)
      // ...with the counter preserved
      assert(idxGen(dir) == 15L)
      // and the counter keeps counting after compaction
      graft.operators.Retrieval.tfFamily().append(dir,
        Seq((77L, "doc 77 common")).toDF("doc_id", "text"))
      assert(idxGen(dir) == 16L)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }
}
