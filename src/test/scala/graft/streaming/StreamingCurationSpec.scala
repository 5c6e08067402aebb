package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkSpec
import graft.operators.Curation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The curation operators are stateless scans (no shuffle, no state
  * store), so the SAME operator code runs unchanged in Structured
  * Streaming — a continuous-ingest quality gate. This pins that
  * contract end to end over a real parquet file source: per-micro-batch
  * verdicts from the streaming query must equal the batch verdicts
  * row for row.
  */
class StreamingCurationSpec extends SparkSpec {

  test("qualityGate over a file stream == batch verdicts, per doc") {
    val src = Paths.get("/root/testdata/sf0.001/documents.parquet")
    assume(Files.exists(src), "driver testdata not present")
    val dir = tempDir("graft-docstream")
    Files.copy(src, dir.resolve("d1.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

    val batchDocs = spark.read.parquet(dir.toString)
    val schema = batchDocs.schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString)

    // identical operator invocation on both sides — the operator has no
    // batch-only API surface
    val gated = Curation.qualityGate(stream, "text", "doc_id")
    assert(gated.isStreaming)
    val q = gated.writeStream.format("memory").queryName("doc_gate")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("doc_gate")
      val batch = Curation.qualityGate(batchDocs, "text", "doc_id")
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty)
      // non-degenerate: at least two distinct verdicts on real data
      assert(streamed.select(col("reason")).distinct().count() >= 2)
    } finally q.stop()
  }

  test("classifier inference over a file stream == batch scores, per doc") {
    // the fused ClassifierKernel is a stateless per-row expression, so
    // the q104 quality gate runs unchanged as a continuous-ingest
    // scorer — including trained-weights serving (the q108 path)
    val src = Paths.get("/root/testdata/sf0.001/documents.parquet")
    assume(Files.exists(src), "driver testdata not present")
    val dir = tempDir("graft-clsstream")
    Files.copy(src, dir.resolve("d1.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val batchDocs = spark.read.parquet(dir.toString)
    val stream = spark.readStream.schema(batchDocs.schema)
      .parquet(dir.toString)
    import graft.operators.Classifier
    val weights = Array.tabulate(64)(b => (b % 7 - 3).toLong * 1000)
    val scored = Classifier.hashedLinearScoreWith(stream, "text",
      "doc_id", weights, buckets = 64)
    assert(scored.isStreaming)
    val q = scored.writeStream.format("memory").queryName("doc_cls")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("doc_cls")
      val batch = Classifier.hashedLinearScoreWith(batchDocs, "text",
        "doc_id", weights, buckets = 64)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty)
    } finally q.stop()
  }

  test("BPE token counting over a file stream == batch counts, per doc") {
    // the production tokenizer shape: BPE merges are LEARNED offline
    // (batch — training collects a model), then SERVED on the stream
    // via the static vocab-encode broadcast join (stream-static join +
    // per-doc stateful count, Complete mode for the re-emitted totals)
    val src = Paths.get("/root/testdata/sf0.001/documents.parquet")
    assume(Files.exists(src), "driver testdata not present")
    val dir = tempDir("graft-bpestream")
    Files.copy(src, dir.resolve("d1.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val batchDocs = spark.read.parquet(dir.toString)
    val stream = spark.readStream.schema(batchDocs.schema)
      .parquet(dir.toString)
    import graft.operators.Bpe
    val learned = Bpe.learnMerges(spark, batchDocs, "text", 3)
    val counted = Bpe.docTokenCounts(stream, "text", "doc_id", learned)
    assert(counted.isStreaming)
    val q = counted.writeStream.format("memory").queryName("doc_bpe")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("doc_bpe")
      val batch = Bpe.docTokenCounts(batchDocs, "text", "doc_id",
        learned)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty)
    } finally q.stop()
  }
}
