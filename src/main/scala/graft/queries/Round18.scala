package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Round-18 queries (q361+): COMPOSED multi-family streaming crash
  * recovery — one crawler stream fanned into several index-family
  * sinks ([[graft.streaming.EventStreams.ingestFamiliesBatch]]), with
  * the crash window the per-family protocols cannot see individually:
  * a kill BETWEEN two families' ingests of the same micro-batch.
  */
object Round18 {
  private def t(name: String): QueryFn =
    (s, dir) => Tables.load(s, dir, name)

  val defs: Seq[QueryDef] = Seq(

    // ---- COMPOSED STREAM RECOVERY — the r17 verdict's top ask as a
    // catalog row: a real crawler lands each micro-batch in SEVERAL
    // indexes, so the crash that matters is BETWEEN family ingests —
    // family A committed the epoch, family B never saw it, and no
    // single family's protocol can observe the divergence. Shape:
    // seed the TF and fingerprint families on doc%4≠3 (q360's split),
    // fan micro-batch 0 (%8=3) into both, then micro-batch 1 (%8=7)
    // dies AFTER the TF ingest and BEFORE the fingerprint ingest
    // (hook-injected, exactly like the layout specs' phase hooks).
    // The streaming replay re-delivers the batch at the SAME epoch:
    // TF skips it (committed), fingerprint ingests it — the families
    // CONVERGE, proven in-row by the epoch requires. Serving the
    // fingerprint candidates then ≡ q343's cleanly batch-appended
    // index, so the oracle is q343's VERBATIM (zero new replay
    // machinery — the four-family twin checks are spec-gated:
    // EventStreamsSpec "COMPOSED multi-family crash recovery").
    QueryDef("q361_composed_stream_recovery",
      (s, dir) => {
        val ptf = scratchDir(dir, "q361_tfidx").getAbsolutePath
        val pfp = scratchDir(dir, "q361_fpidx").getAbsolutePath
        val docs = t("documents")(s, dir)
        val seedDocs = docs.where(col("doc_id") % 4 =!= 3)
        // the two family seeds are independent artifacts at distinct
        // paths — overlap their builds (guide §2.6; round 20: the
        // sequential shape serialized two corpus passes + their write
        // tails)
        graft.core.Par.mapInParallel(Seq(
          () => graft.operators.Retrieval.writeTfIndex(seedDocs, ptf,
            wordBuckets = 16),
          () => graft.operators.Dedup.writeFingerprintIndex(seedDocs,
            pfp, k = 25, w = 10, fpBuckets = 16)))(_.apply())
        val families = Seq(
          graft.operators.Retrieval.tfFamily() -> ptf,
          graft.operators.Dedup.fingerprintFamily() -> pfp)
        def epochs() = Seq(ptf, pfp).map(
          graft.sink.IndexFamily.committedEpoch(s, _))
        val b0 = docs.where(col("doc_id") % 8 === 3)
        val b1 = docs.where(col("doc_id") % 8 === 7)
        graft.streaming.EventStreams.ingestFamiliesBatch(b0, 0L,
          families)
        require(epochs() == Seq(0L, 0L), "micro-batch 0 must land")
        // micro-batch 1: the crawler dies between the two families
        val killed =
          try {
            graft.streaming.EventStreams.ingestFamiliesBatch(b1, 1L,
              families, hook = name =>
                if (name == "tf") sys.error("kill between families"))
            false
          } catch { case _: RuntimeException => true }
        require(killed, "the injected kill must fire")
        require(epochs() == Seq(1L, 0L),
          s"expected diverged epochs, got ${epochs()}")
        // the replay re-delivers the SAME epoch: TF skips (already
        // committed), fingerprint ingests — converged
        val healed = graft.streaming.EventStreams.ingestFamiliesBatch(
          b1, 1L, families)
        require(healed == Seq("tf" -> false, "fingerprint" -> true),
          s"replay must skip TF and heal fingerprint: $healed")
        require(epochs() == Seq(1L, 1L),
          s"families did not converge: ${epochs()}")
        graft.operators.Dedup.substringCandidatesAgainstIndex(
            s, pfp, minShared = 2,
            docs.where(col("doc_id") % 4 === 3).select(col("doc_id")))
          .orderBy(col("da"), col("db"))
      },
      Round14.defs.find(_.name == "q343_substring_incremental")
        .get.oracle),

    // ---- SNAPSHOT CDC — the incremental-pull primitive: a
    // downstream training job pins the index on each export and asks
    // for exactly the delta since its LAST pin instead of re-reading
    // the corpus. The generation discipline makes this free: every
    // mutation rewrites a doc's facts at a fresh gen, so diffing two
    // pinned snapshots' live (doc_id, max gen) maps — each resolved
    // entirely from its own pin (trees, tombstones, watermark) — is
    // exact CDC with zero extra state, and the postings body is never
    // touched (two scans of the flat doc catalog + one key shuffle).
    // Window: re-crawl doc%5=0, then take down doc%7=3 — a doc in
    // both classes is upserted THEN deleted, so its net change is
    // 'delete' (window churn collapses to net state; the spec covers
    // delete-then-resurrect, no-op tombstones, and purge/compaction
    // between the pins — SnapshotCdcSpec).
    QueryDef("q362_index_cdc",
      (s, dir) => {
        val p = scratchDir(dir, "q362_tfidx").getAbsolutePath
        val docs = t("documents")(s, dir)
        graft.operators.Retrieval.writeTfIndex(docs, p,
          wordBuckets = 16)
        val a = graft.sink.IndexManifest.pin(s, p)
        val tf = graft.operators.Retrieval.tfFamily()
        tf.upsert(p,
          docs.where(col("doc_id") % 5 === 0)
            .withColumn("text",
              concat(col("text"), lit(" recrawl revision"))))
        tf.delete(p,
          docs.where(col("doc_id") % 7 === 3).select(col("doc_id")))
        val b = graft.sink.IndexManifest.pin(s, p)
        tf.changesBetween(s, p, a, b)
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 7 = 3 THEN 'delete'
             |       ELSE 'upsert' END AS change
             |FROM documents
             |WHERE doc_id % 7 = 3 OR doc_id % 5 = 0
             |ORDER BY doc_id""".stripMargin))
  )
}
