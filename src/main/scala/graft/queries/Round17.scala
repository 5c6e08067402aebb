package graft.queries

import org.apache.spark.sql.functions._

/** Round-17 queries (q358+): snapshot pinning / time travel over the
  * manifest history ([[graft.sink.IndexManifest.readAt]]) on top of
  * the round's reader-atomic mutation watermark.
  */
object Round17 {
  val defs: Seq[QueryDef] = Seq(

    // ---- PINNED BM25 READ — time travel over the retained manifest
    // history (the r16 verdict's #2): build the TF index on the FULL
    // corpus, PIN the snapshot, then let the crawler keep going —
    // upsert the doc%5=0 re-crawl, take down doc%7=3, physically
    // PURGE the tombstoned generations — and serve the pinned
    // snapshot. The pinned read resolves every subtree AND the
    // visibility watermark from the pinned manifest: the upsert's
    // facts exceed the pinned visible_gen, its tombstones exceed the
    // pinned floor, and the purge's rewrite is invisible because the
    // GC grace window keeps every tree a retained snapshot
    // references. Query 2 carries the mutation's tokens (must be
    // ABSENT — negative evidence the pin holds), so the answer is
    // exhaustive BM25 over the ORIGINAL corpus — q344's oracle CTEs
    // verbatim with the UNMUTATED documents table, zero new replay
    // machinery. (The aging contract — readAt refusing once the pin
    // leaves the HistoryKeep window — is spec-gated: PinnedReadSpec.)
    QueryDef("q358_bm25_pinned_read",
      (s, dir) => {
        val outDir = scratchDir(dir, "q358_tfidx")
        val p = outDir.getAbsolutePath
        val docs = t("documents")(s, dir)
        graft.operators.Retrieval.writeTfIndex(docs, p,
          wordBuckets = 16)
        val snap = graft.sink.IndexManifest.latest(s, p)
        // the crawler moves on: re-crawl, takedown, physical purge
        val recrawl = docs.where(col("doc_id") % 5 === 0)
          .withColumn("text",
            concat(col("text"), lit(" recrawl revision fresh tokens")))
        val tf = graft.operators.Retrieval.tfFamily()
        tf.upsert(p, recrawl)
        tf.delete(p,
          docs.where(col("doc_id") % 7 === 3).select(col("doc_id")))
        tf.purgeTombstones(s, p)
        graft.operators.Retrieval.bm25TopKFromTfIndex(
          s, p, Round15.upsertQueries, k = 10,
          pinned = Some(graft.sink.IndexManifest.readAt(s, p,
            snap.seq)))
      },
      Some(oBm25Top10(Round15.upsertQueries))),

    // ---- STREAMING ANN RE-EMBED — the fourth persisted family gets
    // the q353 streaming discipline (TF q353, shingle q355,
    // fingerprint q360, now IVF-PQ): build the q95 index on the full
    // corpus (frozen geometry), then the re-embed stream delivers the
    // vec_id%5=0 re-crawls in TWO micro-batches. Epoch 0 (%10=0)
    // upserts; epoch 1's (%10=5) first delivery dies AFTER its codes
    // landed but BEFORE tombstones/publish — the worst window: a
    // missed self-heal leaves BOTH the stale build-time codes and the
    // crashed fresh codes serving, corrupting every ADC sum — and is
    // REPLAYED in plain append mode (the pending-epoch marker must
    // route it through the upsert path); a replay of committed epoch
    // 0 is skipped. Final search ≡ q349's single-call upsert (same
    // ids re-encoded under the same frozen geometry; generations
    // differ, values don't), so the oracle IS q349's verbatim — one
    // geometry replay, zero new SQL.
    QueryDef("q359_ann_stream_upsert",
      (s, dir) => {
        val emb = t("embeddings")(s, dir)
        val outDir = scratchDir(dir, "q359_annidx")
        val p = outDir.getAbsolutePath
        graft.operators.Similarity.ivfPqIndex(emb, nCells = 8,
            dims = 64, m = 8, nCentroids = 16)
          .write(p)
        val mutated = emb.withColumn("embedding",
          when(col("vec_id") % 5 === 0,
            transform(col("embedding"), x => -x))
            .otherwise(col("embedding")))
        val b0 = mutated.where(col("vec_id") % 10 === 0)
        val ivf = graft.operators.Similarity.ivfPqFamily()
        val ok0 = ivf.ingestBatch(p, b0, 0L, upsert = true)
        require(ok0, "epoch 0 must ingest")
        // epoch 1 first delivery crashes after its code append (no
        // tombstones, no publish — the double-serve window)
        val b1 = mutated.where(col("vec_id") % 10 === 5)
        val m0 = graft.sink.IndexManifest.latest(s, p)
        graft.sink.IndexManifest.commit(s, p,
          m0.copy(pendingEpoch = 1L))
        val g = graft.sink.IndexLayout.reserveGen(s, p)
        ivf.appendFacts(p, b1, g)
        val healed = ivf.ingestBatch(p, b1, 1L, upsert = false)
        require(healed, "crashed epoch 1 must replay")
        val replayed = ivf.ingestBatch(p, b0, 0L, upsert = true)
        require(!replayed, "replay guard failed to skip epoch 0")
        graft.operators.Similarity.ivfPqSearch(
            mutated.filter(col("vec_id") < 12),
            graft.operators.Similarity.IvfPqIndex.read(s, p),
            k = 5, nprobe = 2)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(oAnnUpsert)),

    // ---- STREAMING FINGERPRINT INGEST — the substring-dedup index
    // streams too: seed on doc%4≠3, the crawler delivers the %4=3
    // increment in two micro-batches (%8=3, then %8=7), epoch 1's
    // first delivery dies after its winnowed facts landed and is
    // replayed in append mode (self-heal: the upsert path's
    // tombstones kill the crashed duplicate fingerprints — a missed
    // heal doubles every shared-count of the %8=7 docs); epoch 0's
    // replay is skipped. Candidate pairs touching the increment ≡
    // q343's batch-appended index — the oracle is q343's verbatim.
    QueryDef("q360_fingerprint_stream_ingest",
      (s, dir) => {
        val outDir = scratchDir(dir, "q360_fpidx")
        val p = outDir.getAbsolutePath
        val docs = t("documents")(s, dir)
        graft.operators.Dedup.writeFingerprintIndex(
          docs.where(col("doc_id") % 4 =!= 3), p,
          k = 25, w = 10, fpBuckets = 16)
        val b0 = docs.where(col("doc_id") % 8 === 3)
        val fp = graft.operators.Dedup.fingerprintFamily()
        val ok0 = fp.ingestBatch(p, b0, 0L)
        require(ok0, "epoch 0 must ingest")
        val b1 = docs.where(col("doc_id") % 8 === 7)
        val m0 = graft.sink.IndexManifest.latest(s, p)
        graft.sink.IndexManifest.commit(s, p,
          m0.copy(pendingEpoch = 1L))
        val g = graft.sink.IndexLayout.reserveGen(s, p)
        fp.appendFacts(p, b1, g)
        val healed = fp.ingestBatch(p, b1, 1L)
        require(healed, "crashed epoch 1 must replay")
        val replayed = fp.ingestBatch(p, b0, 0L)
        require(!replayed, "replay guard failed to skip epoch 0")
        graft.operators.Dedup.substringCandidatesAgainstIndex(
            s, p, minShared = 2,
            docs.where(col("doc_id") % 4 === 3).select(col("doc_id")))
          .orderBy(col("da"), col("db"))
      },
      Some(oSubstringIncrementPairs))
  )
}
