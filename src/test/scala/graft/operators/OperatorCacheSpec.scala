package graft.operators

import graft.{SourceScan, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** The one caching rule of the corpus operators: the shingle builders
  * ([[Dedup.shingleSet]], [[Dedup.hashedShingleSet]]) are pure plans,
  * each operator persists the frame it shares, and
  * `spark.catalog.clearCache()` releases it. No call opts out. */
class OperatorCacheSpec extends SparkSpec {

  private val needles = Seq("cache: Boolean", "CacheHandle", "Releasable",
    "persistIf")

  needles.foreach { needle =>
    test(s"src/main/scala/graft/operators holds no `$needle`") {
      val hits = SourceScan.hits(
        SourceScan.srcRoot.resolve("main/scala/graft/operators"),
        Seq(needle))
      assert(hits.isEmpty, s"${hits.size} hits: ${hits.mkString(", ")}")
    }
  }

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words entirely here now"),
      (4L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
  }

  /** Ids of the RDDs persisted in this SparkContext — a cached frame's
    * column buffers join the set when an action first builds them. */
  private def persistedRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def readsCache(df: DataFrame): Boolean =
    df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r }.isDefined

  test("the shingle builders persist nothing; jaccardPairs then " +
      "noveltyRates over one corpus share one cached hashed-shingle " +
      "frame, and clearCache releases it") {
    spark.catalog.clearCache()
    val before = persistedRdds
    def added = persistedRdds -- before
    val hashed = Dedup.hashedShingleSet(docs, "doc_id", "text", 3)
    hashed.collect()
    Dedup.shingleSet(docs, "doc_id", "text", 3).collect()
    // what the Bloom paths and the shingle-index builds rely on
    assert(added.isEmpty)
    assert(hashed.storageLevel == StorageLevel.NONE)

    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
    assert(pairs.collect().nonEmpty)
    // two entries: the hashed-shingle frame and the pair set
    val shared = added
    assert(shared.size == 2)
    assert(hashed.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(pairs.storageLevel == StorageLevel.MEMORY_AND_DISK)
    val novelty = Dedup.noveltyRates(docs, "doc_id", "text", 3)
    assert(novelty.collect().length == 4)
    // noveltyRates reads the entry jaccardPairs left and adds none
    assert(readsCache(novelty))
    assert(added == shared)

    spark.catalog.clearCache()
    assert(added.isEmpty)
    assert(hashed.storageLevel == StorageLevel.NONE)
  }
}
